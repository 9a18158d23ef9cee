"""Per-row audio checks: decoded-PCM SNR + transcript equality (M5).

The per-row invariant from BASELINE.json input_hint: decoded PCM must be
allclose to the reference implementation's PCM (SNR >= 30 dB) and the
transcript must equal the ground truth. Recasts the reference's per-record
anomaly flagging (`anomaly_detector.py:423-425` mask -> records) at the row
level.

Spark shape (scale-first) — THE invariant here is that the binary payload
never enters a join, broadcast, or shuffle:

- the PCM/SNR check needs nothing from the refs table (the reference PCM is a
  function of clip_id), so it is a pure scan -> `mapInPandas` -> tiny-row
  aggregation: `bytes` flows straight from the parquet scan into the Arrow
  batch and dies inside the UDF. Round 1 joined clips⋈refs BEFORE the UDF —
  if the optimizer picks a shuffle join there, the whole multi-TB payload
  column shuffles; at 10^12 clips that plan is unrunnable. Split instead.
- transcript equality is a plain equi-join + column compare on the SMALL
  columns only (clip_id, transcript) — pure Catalyst, broadcast/sort-merge by
  hint or AQE choice, skew-join splitting applies.
- results are batch-size independent: each clip's SNR is a pure function of
  its own payload. `bytes` is scanned ONLY on the pcm path (X2 — stats /
  uniqueness / drift / transcript plans never read it).

A clip whose payload cannot be decoded at all records `decode_error`
(operational failure -> partition status 'error', the reference's
ERROR-and-continue at `streaming_collector_sqlite.py:400-404`) — distinct
from a decodable clip failing the SNR threshold (a data-quality FAIL).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..audio import codecs
from ..schemas import VERDICT_FAIL, VERDICT_PASS

SNR_THRESHOLD_DB = 30.0

_CHECK_SCHEMA = (
    "part_id int, clip_id string, codec string, snr_db double, "
    "pcm_ok boolean, n_samples long, decode_error string"
)


def pcm_check(
    clips: DataFrame,
    ref_pcm_fn: Callable[[str], np.ndarray],
    snr_threshold: float = SNR_THRESHOLD_DB,
    with_digest: bool = False,
    with_len: bool = False,
) -> DataFrame:
    """Per-clip PCM rows: decode + SNR vs reference PCM. No join anywhere —
    scan-local map over Arrow batches.

    `ref_pcm_fn(clip_id) -> np.ndarray` supplies the reference decoded PCM
    (in production a lookup into a reference store; in tests the deterministic
    synthesizer oracle). It is shipped to executors once via closure capture.

    `with_digest=True` additionally emits `content_hash` =
    sha256(bytes) hex — byte-identical to Catalyst's `sha2(bytes, 256)` — so
    the content_dedup family can ride THIS scan instead of paying a second
    pass over the multi-TB payload column when both checks are enabled
    (engine.validate wires this automatically).

    `with_len=True` additionally passes sr_hz/dur_ms through the batch and
    emits `payload_len` = len(bytes) — the metadata_integrity family's whole
    input — so that family, too, rides this ONE payload scan instead of
    paying its own `length(bytes)` pass (engine.validate wires this)."""
    extra_meta = ["sr_hz", "dur_ms"] if with_len else []
    projected = clips.select("part_id", "clip_id", "bytes", "codec", *extra_meta)
    schema = (
        _CHECK_SCHEMA
        + (", content_hash string" if with_digest else "")
        + (", sr_hz int, dur_ms int, payload_len long" if with_len else "")
    )

    def check_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in batches:
            n = len(pdf)
            snr = np.empty(n, dtype=np.float64)
            n_samples = np.zeros(n, dtype=np.int64)
            errs = np.full(n, None, dtype=object)
            payloads = pdf["bytes"].to_numpy()
            codec_arr = pdf["codec"].to_numpy()
            ids = pdf["clip_id"].to_numpy()
            for k in range(n):  # loop over Arrow batch rows; work per row is vectorized numpy
                try:
                    observed = codecs.decode(payloads[k], codec_arr[k])
                    reference = ref_pcm_fn(ids[k])
                    n_samples[k] = observed.shape[0]
                    snr[k] = codecs.snr_db(reference, observed)
                except Exception as exc:  # noqa: BLE001 — record, don't abort the task
                    snr[k] = float("-inf")
                    errs[k] = f"{type(exc).__name__}: {exc}"[:200]
            out = {
                "part_id": pdf["part_id"],
                "clip_id": pdf["clip_id"],
                "codec": pdf["codec"],
                "snr_db": snr,
                "pcm_ok": snr >= snr_threshold,
                "n_samples": n_samples,
                "decode_error": errs,
            }
            if with_digest:
                out["content_hash"] = [
                    hashlib.sha256(p).hexdigest() if p is not None else None
                    for p in payloads
                ]
            if with_len:
                out["sr_hz"] = pdf["sr_hz"]
                out["dur_ms"] = pdf["dur_ms"]
                out["payload_len"] = pd.array(
                    [len(p) if p is not None else None for p in payloads],
                    dtype="Int64",
                )
            yield pd.DataFrame(out)

    return projected.mapInPandas(check_batches, schema=schema)


def transcript_check(clips: DataFrame, refs: DataFrame) -> DataFrame:
    """Per-clip transcript equality vs the ground-truth refs table — pure
    Catalyst equi-join on the small columns only (never `bytes`).

    INNER join: a clip with no ref row cannot be compared — that is the
    referential constraint's violation (J4), not a transcript mismatch;
    double-flagging it here would fail every partition the moment one ref row
    is missing."""
    ref_side = refs.select(F.col("clip_id"), F.col("transcript").alias("_ref_transcript"))
    joined = clips.select("part_id", "clip_id", "transcript").join(ref_side, "clip_id", "inner")
    return joined.select(
        "part_id",
        "clip_id",
        (
            F.col("transcript").isNotNull()
            & F.col("_ref_transcript").isNotNull()
            & (F.col("transcript") == F.col("_ref_transcript"))
        ).alias("transcript_ok"),
    )


def pcm_violations(check_df: DataFrame, snr_threshold: float = SNR_THRESHOLD_DB) -> DataFrame:
    return check_df.filter(~F.col("pcm_ok")).select(
        F.col("part_id"),
        F.lit("pcm_check").alias("constraint"),
        F.col("clip_id"),
        F.lit("bytes").alias("column"),
        F.when(
            F.col("decode_error").isNotNull(),
            F.concat(F.lit("decode_error:"), F.col("decode_error")),
        )
        .otherwise(F.format_string("snr_db=%.2f", F.col("snr_db")))
        .alias("observed"),
        F.lit(f"snr_db>={snr_threshold:.0f}").alias("expected"),
        F.when(F.col("decode_error").isNotNull(), F.lit("payload failed to decode"))
        .otherwise(F.lit("decoded PCM below SNR threshold vs reference"))
        .alias("detail"),
    )


def transcript_violations(tr_df: DataFrame) -> DataFrame:
    return tr_df.filter(~F.col("transcript_ok")).select(
        F.col("part_id"),
        F.lit("transcript_check").alias("constraint"),
        F.col("clip_id"),
        F.lit("transcript").alias("column"),
        F.lit("mismatch").alias("observed"),
        F.lit("equal_to_reference").alias("expected"),
        F.lit("transcript differs from reference").alias("detail"),
    )


def pcm_verdicts(check_df: DataFrame) -> DataFrame:
    g = check_df.groupBy("part_id").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(~F.col("pcm_ok"), 1).otherwise(0)).alias("n_bad"),
        F.sum(F.when(F.col("decode_error").isNotNull(), 1).otherwise(0)).alias("n_errors"),
        F.avg("snr_db").alias("mean_snr_db"),
        F.min("snr_db").alias("min_snr_db"),
    )
    return g.select(
        F.col("part_id"),
        F.lit("pcm_check").alias("constraint"),
        # decode errors are operational (status='error', retried on resume);
        # low SNR stays a data-quality FAIL
        F.when(F.col("n_errors") > 0, F.lit("error"))
        .when(F.col("n_bad") > 0, F.lit(VERDICT_FAIL))
        .otherwise(F.lit(VERDICT_PASS))
        .alias("status"),
        F.map_from_arrays(
            F.array(
                F.lit("n_rows"), F.lit("n_bad"), F.lit("mean_snr_db"), F.lit("min_snr_db")
            ),
            F.array(
                F.col("n_rows").cast("double"),
                F.col("n_bad").cast("double"),
                F.col("mean_snr_db"),
                F.col("min_snr_db"),
            ),
        ).alias("metrics"),
        F.when(
            F.col("n_errors") > 0,
            F.format_string("%d undecodable rows", F.col("n_errors")),
        )
        .when(F.col("n_bad") > 0, F.format_string("%d failing rows", F.col("n_bad")))
        .alias("detail"),
    )


def transcript_verdicts(tr_df: DataFrame) -> DataFrame:
    g = tr_df.groupBy("part_id").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(~F.col("transcript_ok"), 1).otherwise(0)).alias("n_bad"),
    )
    return g.select(
        F.col("part_id"),
        F.lit("transcript_check").alias("constraint"),
        F.when(F.col("n_bad") > 0, F.lit(VERDICT_FAIL))
        .otherwise(F.lit(VERDICT_PASS))
        .alias("status"),
        F.map_from_arrays(
            F.array(F.lit("n_rows"), F.lit("n_bad")),
            F.array(F.col("n_rows").cast("double"), F.col("n_bad").cast("double")),
        ).alias("metrics"),
        F.when(F.col("n_bad") > 0, F.format_string("%d failing rows", F.col("n_bad"))).alias(
            "detail"
        ),
    )
