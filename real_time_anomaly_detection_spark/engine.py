"""Validation engine orchestration: validate / profile / incremental_validate.

Unifies the reference's three entry points (SURVEY.md §3) into one distributed
pipeline:
- `validate`   = detection + health check (anomaly_detector.py:375-409,
                 :546-576) recast as constraint evaluation over partitions;
- `profile`    = the stats-only view (health checker §3.2);
- `incremental_validate` = the collector loop (§3.3): discover pending
                 partitions via manifest anti-join, validate only those,
                 append lineage — restart-safe, idempotent per partition.

`FAMILIES` is the one ordered table of constraint families. Each entry holds
the family's check name (as in `ValidationConfig.checks`), the validate()
inputs it needs (`refs`, `baseline_rows`, `ref_pcm_fn`), the columns of the
shared `meta` projection it reads, the constraint names it emits and its
`build(run) -> (verdicts, violations)`. validate(), validate_isolated(), the
resume gating (`ValidationConfig.runnable_constraints`) and the CLI's opt-in
flags all read it, so a family runs exactly when its names are expected.
Drift checks the baseline's columns (not `ValidationConfig.columns`): its
names and `meta` columns come from the baseline rows.

The per-station sequential loop of the reference (`anomaly_detector.py:431`)
does not exist here: every constraint is a whole-table distributed job, and
all constraints share one pruned projection of the non-binary columns that is
persisted for the duration of the run. validate() cannot unpersist eagerly
because its outputs are lazy; it registers every persisted DataFrame under its
run_id — call `release(run_id)` once the returned DataFrames have been
materialized (the CLI and the streaming foreachBatch loop do), so long-lived
sessions running many validate() calls don't accumulate cached plans.

Failure handling (T7, reference `streaming_collector_sqlite.py:400-404`: log
ERROR per cycle and continue): fault isolation is BUILD-TIME per family plus
per-clip at runtime — a constraint family whose plan cannot be CONSTRUCTED
yields a status='error' verdict row and the run continues, and per-clip audio
decode errors are caught inside the UDF and surface as status='error'
partition verdicts. A runtime failure in any other family still aborts the
whole validate action, because all families union into one lazy DataFrame and
Spark evaluates it as one job; `validate_isolated` trades one job (and one
source-scan sync point) per family for full runtime isolation when that
matters. Errored partitions are retried on resume
(`manifest.completed_partitions` excludes them).
"""

from __future__ import annotations

import uuid
from collections.abc import Callable
from dataclasses import dataclass, field, replace
from functools import cached_property

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import manifest as mf
from .operators import (audio_checks, content_dedup, drift, label_consistency,
                        metadata_integrity, referential, speaking_rate, stats,
                        uniqueness)
from .schemas import PARTITION_VERDICTS, VIOLATIONS

# Persisted DataFrames per validate() run, so callers can unpersist once the
# lazy outputs are materialized (run N validations in one session without
# accumulating cached plans).
_PERSISTED: dict[str, list[DataFrame]] = {}


def release(run_id: str) -> None:
    """Unpersist every DataFrame validate() cached under `run_id`. Safe to
    call more than once; call after the returned verdicts/violations have
    been written or collected."""
    for df in _PERSISTED.pop(run_id, []):
        df.unpersist()


def release_all() -> None:
    for rid in list(_PERSISTED):
        release(rid)


@dataclass
class ValidationConfig:
    columns: tuple[str, ...] = ("sr_hz", "dur_ms")
    categorical: tuple[str, ...] = ("codec",)
    salt_buckets: int = 16
    snr_threshold: float = audio_checks.SNR_THRESHOLD_DB
    # 'speaking_rate': absolute bounds always run; group robust outliers run
    # when speaking_rate_groups is non-empty
    min_cps: float = speaking_rate.MIN_CPS
    max_cps: float = speaking_rate.MAX_CPS
    speaking_rate_groups: tuple[str, ...] = ("codec",)
    approx: bool = True
    # families to run, by check name (see FAMILIES); the other four are
    # opt-in: content_dedup, label_consistency, speaking_rate,
    # metadata_integrity
    checks: tuple[str, ...] = field(
        default=("column_stats", "uniqueness", "referential", "drift", "audio")
    )

    def runnable_constraints(
        self,
        refs=None,
        baseline_rows=None,
        ref_pcm_fn=None,
    ) -> list[str]:
        """Constraint names validate() emits given these inputs — the family
        table's gating, so resume counts what was runnable (not what the
        full config wishes for)."""
        return [
            name
            for fam in _runnable(self, refs, baseline_rows, ref_pcm_fn)
            for name in fam.names(self, baseline_rows)
        ]


def profile(clips: DataFrame, cfg: ValidationConfig | None = None) -> DataFrame:
    cfg = cfg or ValidationConfig()
    return stats.profile(clips, cfg.columns, cfg.categorical, approx=cfg.approx)


class _Run:
    """One validate() call: its inputs, the families that run, and the
    memoised intermediates several families share."""

    def __init__(self, clips, refs, baseline_rows, ref_pcm_fn, cfg, run_id):
        self.clips, self.refs, self.baseline_rows = clips, refs, baseline_rows
        self.ref_pcm_fn, self.cfg, self.run_id = ref_pcm_fn, cfg, run_id
        self.families = _runnable(cfg, refs, baseline_rows, ref_pcm_fn)
        self._pcm: DataFrame | Exception | None = None

    def runs(self, check: str) -> bool:
        return any(fam.check == check for fam in self.families)

    def persist(self, df: DataFrame) -> DataFrame:
        """Persist `df` under this run's id, for release()."""
        df = df.persist()
        _PERSISTED.setdefault(self.run_id, []).append(df)
        return df

    @cached_property
    def meta(self) -> DataFrame:
        """One pruned projection of the columns the running families read;
        `bytes` deliberately excluded so only the payload passes pay for it.
        Persisted so the metadata families scan the source once. Columns
        missing from `clips` are dropped here so the failure surfaces as that
        family's status='error' verdict, not an abort before any family runs."""
        wanted = ["part_id", "clip_id"]
        for fam in self.families:
            wanted += fam.meta_cols(self.cfg, self.baseline_rows)
        have = self.clips.columns
        return self.persist(self.clips.select(*[c for c in dict.fromkeys(wanted) if c in have]))

    def pcm(self) -> DataFrame:
        """The audio family's PCM pass (scan -> mapInPandas; `bytes` is never
        joined or shuffled), built and persisted once: the per-clip flag rows
        are tiny and feed verdicts, violations and the families riding the
        pass. content_dedup/label_consistency take its sha256 digest and
        metadata_integrity its payload length from the same Arrow batches,
        so `bytes` is scanned once per run. A build failure is re-raised on
        every call: the audio family records it as its one error row."""
        if self._pcm is None:
            try:
                self._pcm = self.persist(audio_checks.pcm_check(
                    self.clips, self.ref_pcm_fn, self.cfg.snr_threshold,
                    with_digest=self.runs("content_dedup") or self.runs("label_consistency"),
                    with_len=self.runs("metadata_integrity"),
                ))
            except Exception as exc:  # noqa: BLE001 — recorded by the audio family
                self._pcm = exc
        if isinstance(self._pcm, Exception):
            raise self._pcm
        return self._pcm

    def shared_pcm(self) -> DataFrame | None:
        """The PCM pass for a family that can ride it, or None when audio is
        off or its plan failed (the caller then pays its own payload scan)."""
        if not self.runs("audio"):
            return None
        try:
            return self.pcm()
        except Exception:  # noqa: BLE001 — the audio family records it
            return None

    @cached_property
    def dups(self) -> DataFrame:
        """The duplicate-content relation content_dedup and label_consistency
        share: ONE digest agg, persisted (duplicate rows only)."""
        checked = self.shared_pcm()
        fp = None if checked is None else checked.select("part_id", "clip_id", "content_hash")
        return self.persist(content_dedup.duplicate_content(self.clips, fp=fp))


def _stats(run: _Run):
    cfg = run.cfg
    prof = stats.profile(run.meta, cfg.columns, cfg.categorical, approx=cfg.approx)
    return [stats.stats_verdicts(prof, cfg.columns)], []


def _uniqueness(run: _Run):
    # the salted agg is the family's whole cost — run it once, persist the
    # (small: duplicates only) result, derive verdicts AND violations from it
    salt = run.cfg.salt_buckets
    dups = run.persist(uniqueness.duplicate_keys(run.meta, "clip_id", "part_id", salt))
    return (
        [uniqueness.uniqueness_verdicts(run.meta, "clip_id", "part_id", salt, dups=dups)],
        [uniqueness.uniqueness_violations(run.meta, "clip_id", "part_id", salt, dups=dups)],
    )


def _integrity(run: _Run):
    # rides the PCM pass's payload_len when audio is on; otherwise a
    # scan-local length(bytes) projection — the payload never shuffles
    checked = run.shared_pcm()
    lens = (
        metadata_integrity.payload_lengths(run.clips) if checked is None
        else checked.select(*metadata_integrity._LEN_COLS)
    )
    # persisted: verdicts and violations share the classified rows
    sig = run.persist(metadata_integrity.integrity_signals(lens))
    return ([metadata_integrity.integrity_verdicts(sig)],
            [metadata_integrity.integrity_violations(sig)])


def _content_dedup(run: _Run):
    return ([content_dedup.content_dedup_verdicts(run.clips, dups=run.dups)],
            [content_dedup.content_dedup_violations(run.clips, dups=run.dups)])


def _label_consistency(run: _Run):
    # conflicts are a tiny subset of the (already tiny) dup rows; persisted
    # so verdicts and violations share the transcript joins
    conflicts = run.persist(label_consistency.transcript_conflicts(run.clips, dups=run.dups))
    return (
        [label_consistency.label_consistency_verdicts(run.clips, conflicts=conflicts)],
        [label_consistency.label_consistency_violations(run.clips, conflicts=conflicts)],
    )


def _speaking_rate(run: _Run):
    # signals are a map-side projection of the cached meta scan, persisted
    # because verdicts, violations and the robust-outlier aggs consume them
    cfg = run.cfg
    sig = run.persist(speaking_rate.speaking_rate_signals(run.meta))
    groups = tuple(g for g in cfg.speaking_rate_groups if g in sig.columns)
    # outlier rows only (tiny); shared by verdicts + violations
    out = run.persist(speaking_rate.speaking_rate_outliers(sig, groups)) if groups else None
    kw = dict(min_cps=cfg.min_cps, max_cps=cfg.max_cps, signals=sig, outliers=out)
    return ([speaking_rate.speaking_rate_verdicts(run.meta, **kw)],
            [speaking_rate.speaking_rate_violations(run.meta, **kw)])


def _referential(run: _Run):
    # ONE anti-join pass, persisted (missing rows only), feeds both outputs
    miss = run.persist(referential.missing_refs(run.meta, run.refs))
    return ([referential.referential_verdicts(run.meta, run.refs, miss_pre=miss)],
            [referential.referential_violations(run.meta, run.refs, miss_pre=miss)])


def _drift(run: _Run):
    return [drift.drift_verdicts(run.meta, run.baseline_rows)], []


def _audio(run: _Run):
    checked = run.pcm()
    # transcript: small-column equi-join against refs off the cached meta
    tr = run.persist(audio_checks.transcript_check(run.meta, run.refs))
    return (
        [audio_checks.pcm_verdicts(checked), audio_checks.transcript_verdicts(tr)],
        [audio_checks.pcm_violations(checked, run.cfg.snr_threshold),
         audio_checks.transcript_violations(tr)],
    )


@dataclass(frozen=True)
class Family:
    check: str  # its name in ValidationConfig.checks
    needs: tuple[str, ...]  # validate() inputs it cannot run without
    meta_cols: Callable[[ValidationConfig, list | None], list[str]]  # `meta` columns read
    names: Callable[[ValidationConfig, list | None], list[str]]  # constraint names emitted
    build: Callable[[_Run], tuple[list[DataFrame], list[DataFrame]]]


def _baseline_cols(baseline_rows) -> list[str]:
    return [row["column_name"] for row in baseline_rows]


# Ordered: validate() builds and unions the families in this order.
FAMILIES: tuple[Family, ...] = (
    Family("column_stats", (), lambda cfg, b: [*cfg.columns, *cfg.categorical],
           lambda cfg, b: [f"column_stats:{c}" for c in cfg.columns], _stats),
    Family("uniqueness", (), lambda cfg, b: ["clip_id"],
           lambda cfg, b: ["uniqueness"], _uniqueness),
    # payload byte count vs what (sr_hz, dur_ms, codec) promise; reads
    # `clips` (or the PCM pass), not `meta`
    Family("metadata_integrity", (), lambda cfg, b: [],
           lambda cfg, b: ["metadata_integrity"], _integrity),
    # the same audio ingested under DIFFERENT clip_ids (opt-in: key
    # uniqueness already covers re-sent rows)
    Family("content_dedup", (), lambda cfg, b: [],
           lambda cfg, b: ["content_dedup"], _content_dedup),
    Family("label_consistency", (), lambda cfg, b: [],
           lambda cfg, b: ["label_consistency"], _label_consistency),
    Family("speaking_rate", (), lambda cfg, b: ["transcript", "dur_ms", "clip_id", "codec"],
           lambda cfg, b: ["speaking_rate"], _speaking_rate),
    Family("referential", ("refs",), lambda cfg, b: ["clip_id"],
           lambda cfg, b: ["referential"], _referential),
    Family("drift", ("baseline_rows",), lambda cfg, b: _baseline_cols(b),
           lambda cfg, b: [f"drift:{c}" for c in _baseline_cols(b)], _drift),
    Family("audio", ("refs", "ref_pcm_fn"), lambda cfg, b: ["clip_id", "transcript"],
           lambda cfg, b: ["pcm_check", "transcript_check"], _audio),
)


def _runnable(cfg: ValidationConfig, refs, baseline_rows, ref_pcm_fn) -> list[Family]:
    """The configured families whose inputs are present, in table order."""
    have = {"refs": refs is not None, "baseline_rows": bool(baseline_rows),
            "ref_pcm_fn": ref_pcm_fn is not None}
    return [fam for fam in FAMILIES
            if fam.check in cfg.checks and all(have[n] for n in fam.needs)]


def validate(
    spark: SparkSession,
    clips: DataFrame,
    refs: DataFrame | None = None,
    baseline_rows: list[dict] | None = None,
    ref_pcm_fn: Callable[[str], np.ndarray] | None = None,
    cfg: ValidationConfig | None = None,
    run_id: str | None = None,
    manifest_path: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Run all configured constraints; returns (verdicts, violations).

    Checks needing absent inputs (refs / baseline / ref_pcm_fn) are skipped.
    If `manifest_path` is given, verdicts are appended there under `run_id`.
    """
    run = _Run(clips, refs, baseline_rows, ref_pcm_fn, cfg or ValidationConfig(),
               run_id or uuid.uuid4().hex[:12])
    verdicts: list[DataFrame] = []
    violations: list[DataFrame] = []
    for fam in run.families:
        # a construction failure becomes a status='error' verdict row and
        # the run continues (T7)
        try:
            v, viol = fam.build(run)
        except Exception as exc:  # noqa: BLE001 — any family failure is recorded
            v, viol = [_error_verdict(spark, fam.check, exc)], []
        verdicts += v
        violations += viol

    verdicts_df = _union(spark, verdicts, PARTITION_VERDICTS)
    violations_df = _union(spark, violations, VIOLATIONS)

    if manifest_path:
        mf.append_manifest(verdicts_df, run.run_id, manifest_path)
    return verdicts_df, violations_df


def validate_isolated(
    spark: SparkSession,
    clips: DataFrame,
    refs: DataFrame | None = None,
    baseline_rows: list[dict] | None = None,
    ref_pcm_fn: Callable[[str], np.ndarray] | None = None,
    cfg: ValidationConfig | None = None,
    run_id: str | None = None,
    manifest_path: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """validate() with RUNTIME fault isolation per constraint family (the T7
    upgrade the one-job design cannot give): each family runs as its own
    materialized action, so a family that fails mid-execution — a corrupt
    side input, an OOM'd join, a refs store outage — yields a status='error'
    verdict row while every other family's results survive. Errored families'
    partitions are retried on resume as usual.

    Cost: one job (and one source-scan sync point) per family instead of one
    shared job — the shared `meta` projection is scanned per family rather
    than once. Use for long-running 100 TB runs where losing five finished
    families to the sixth's runtime failure costs more than the extra scans;
    the default validate() remains the cheap path. Returned DataFrames are
    persisted results registered under `run_id` — call release(run_id) when
    done with them."""
    cfg = cfg or ValidationConfig()
    run_id = run_id or uuid.uuid4().hex[:12]

    verdicts: list[DataFrame] = []
    violations: list[DataFrame] = []
    for check in [fam.check for fam in _runnable(cfg, refs, baseline_rows, ref_pcm_fn)]:
        sub_rid = f"{run_id}:{check}"
        try:
            v, viol = validate(
                spark,
                clips,
                refs=refs,
                baseline_rows=baseline_rows,
                ref_pcm_fn=ref_pcm_fn,
                cfg=replace(cfg, checks=(check,)),
                run_id=sub_rid,
            )
            v, viol = v.persist(), viol.persist()
            # register BEFORE materializing: if the second count raises, the
            # first persisted result must still be releasable via run_id
            _PERSISTED.setdefault(run_id, []).extend([v, viol])
            v.count(), viol.count()  # materialize: runtime failures surface HERE
            verdicts.append(v)
            violations.append(viol)
        except Exception as exc:  # noqa: BLE001 — any family failure is recorded
            verdicts.append(_error_verdict(spark, check, exc))
        finally:
            # the family's internal caches (its meta projection etc.) are no
            # longer needed once its outputs are materialized (or it failed)
            release(sub_rid)

    verdicts_df = _union(spark, verdicts, PARTITION_VERDICTS)
    violations_df = _union(spark, violations, VIOLATIONS)
    if manifest_path:
        mf.append_manifest(verdicts_df, run_id, manifest_path)
    return verdicts_df, violations_df


def incremental_validate(
    spark: SparkSession,
    clips: DataFrame,
    manifest_path: str,
    refs: DataFrame | None = None,
    baseline_rows: list[dict] | None = None,
    ref_pcm_fn: Callable[[str], np.ndarray] | None = None,
    cfg: ValidationConfig | None = None,
    run_id: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Validate only partitions not yet completed per the manifest (T6).

    The pending set is collected to the driver — it is partition metadata
    (thousands of ints at 100 TB scale), then pushed down as a partition-pruning
    IN-filter so completed partitions are never rescanned.
    """
    cfg = cfg or ValidationConfig()
    man = mf.read_manifest(spark, manifest_path)
    # Count only the constraints validate() will actually run given these
    # inputs — with the full-config count, checks gated off by absent inputs
    # (e.g. no ref_pcm_fn from the CLI) would leave every partition forever
    # "pending" and re-validated each run.
    n_constraints = len(cfg.runnable_constraints(refs, baseline_rows, ref_pcm_fn))
    pend = mf.pending_partitions(clips, man, n_constraints)
    pend_ids = [r.part_id for r in pend.collect()]
    if not pend_ids:
        return (
            spark.createDataFrame([], PARTITION_VERDICTS),
            spark.createDataFrame([], VIOLATIONS),
        )
    subset = clips.filter(F.col("part_id").isin(pend_ids))
    return validate(
        spark,
        subset,
        refs=refs,
        baseline_rows=baseline_rows,
        ref_pcm_fn=ref_pcm_fn,
        cfg=cfg,
        run_id=run_id,
        manifest_path=manifest_path,
    )


def _error_verdict(spark: SparkSession, family: str, exc: Exception) -> DataFrame:
    """One status='error' verdict row for a family whose plan failed to build
    (part_id=-1: the failure precedes any partition scan)."""
    return spark.createDataFrame(
        [
            {
                "part_id": -1,
                "constraint": family,
                "status": "error",
                "metrics": {},
                "detail": f"{type(exc).__name__}: {exc}"[:500],
            }
        ],
        PARTITION_VERDICTS,
    )


def _union(spark: SparkSession, dfs: list[DataFrame], schema) -> DataFrame:
    if not dfs:
        return spark.createDataFrame([], schema)
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d)
    return out
