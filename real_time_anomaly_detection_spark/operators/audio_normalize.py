"""Loudness normalization — the gain-correction transform of audio curation.

A web-crawled speech corpus spans ~40 dB of capture levels; training wants
them on one loudness scale. This op rescales each clip to a target RMS
(dBFS) with a peak-safe limiter: the gain is capped so no sample exceeds
`peak_limit`, preferring an under-target quiet clip over digital clipping
(the distortion audio_features.clipping_ratio would then flag). Effectively
quiet clips — below `silence_rms_db` — pass through at unity gain: boosting
a silent capture 60 dB trains on amplified noise floor, and the
keep/drop decision for silence belongs to `quality_filter`, not here.

No reference-repo analog (scalar weather payloads); this is a
beyond-the-reference audio pipeline op, the modality twin of the text
side's normalization steps (q56 redaction rewrites text in place the same
way this rewrites payloads in place).

Scale shape (the pcm_check convention): ONE mapInPandas scan of
the payload, decode → numpy gain → re-encode in the ORIGINAL codec, zero
shuffles — `bytes` never leaves its scan task, so the op composes with a
direct `.write` into a map-only job at any corpus size. Undecodable clips
emit nothing (decode-error REPORTING is audio_checks' job; a clip with no
usable payload has no place in the normalized corpus).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..audio import codecs

TARGET_RMS_DB = -20.0
PEAK_LIMIT = 0.99       # post-gain |sample| ceiling (pcm16 rail is 1.0)
SILENCE_RMS_DB = -80.0  # below this, pass through at unity gain


def gain_for(x: np.ndarray, target_rms_db: float = TARGET_RMS_DB,
             peak_limit: float = PEAK_LIMIT,
             silence_rms_db: float = SILENCE_RMS_DB) -> tuple[float, bool]:
    """(linear gain, peak_limited) for one decoded clip — pure numpy spec,
    unit-testable; the Spark surface applies exactly this per row."""
    n = int(x.shape[0])
    if n == 0:
        return 1.0, False
    rms = float(np.sqrt(np.mean(np.square(x, dtype=np.float64))))
    if rms <= 0.0 or 20.0 * np.log10(rms) < silence_rms_db:
        return 1.0, False
    g = 10.0 ** (target_rms_db / 20.0) / rms
    peak = float(np.max(np.abs(x)))
    if peak * g > peak_limit:
        return peak_limit / peak, True
    return g, False


def normalize_gain(clips: DataFrame, target_rms_db: float = TARGET_RMS_DB,
                   peak_limit: float = PEAK_LIMIT,
                   silence_rms_db: float = SILENCE_RMS_DB) -> DataFrame:
    """The clips table with `bytes` rescaled to the target loudness, plus
    `gain_db` (applied gain, 0.0 for pass-through) and `peak_limited`
    (true when the limiter, not the target, set the gain). Every input
    column rides through unchanged, so the output is a drop-in corpus.

    Unity-gain (silent) clips keep their exact original payload — no
    decode/re-encode round trip is paid or imposed on them."""
    if peak_limit <= 0 or peak_limit > 1.0:
        raise ValueError(f"peak_limit must be in (0, 1], got {peak_limit}")
    in_cols = list(clips.columns)
    out_schema = T.StructType(
        list(clips.schema.fields)
        + [
            T.StructField("gain_db", T.DoubleType()),
            T.StructField("peak_limited", T.BooleanType()),
        ]
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            payloads = pdf["bytes"].to_numpy()
            codec_col = pdf["codec"].to_numpy()
            keep, new_bytes, gains_db, limited = [], [], [], []
            for k in range(len(pdf)):
                try:
                    x = codecs.decode(payloads[k], codec_col[k])
                except Exception:  # noqa: BLE001 — drop, don't abort the task
                    continue
                g, lim = gain_for(x, target_rms_db, peak_limit, silence_rms_db)
                if g == 1.0 and not lim:
                    b = payloads[k]  # pass-through: original bytes verbatim
                else:
                    y = np.clip(x * g, -1.0, 1.0)
                    b = codecs.encode(y, codec_col[k])
                keep.append(k)
                new_bytes.append(b)
                gains_db.append(20.0 * float(np.log10(g)) if g > 0 else 0.0)
                limited.append(lim)
            out = pdf.iloc[keep].copy()
            out["bytes"] = new_bytes
            out["gain_db"] = gains_db
            out["peak_limited"] = limited
            yield out[in_cols + ["gain_db", "peak_limited"]]

    return clips.mapInPandas(batches, schema=out_schema)
