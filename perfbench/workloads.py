"""The benchmark's workloads against the validation engine's public API.

Every workload is a closed loop with one client on `local[4]`: the next
operation starts when the previous one has returned and its outputs have been
written through the `noop` sink. The engine only ever sees the tables the
workload generated from its seed.

- full_audio: one-shot `engine.validate` with the default config (stats,
  uniqueness, referential, drift, audio) over a planted-violation table.
- ingest_resume: batches of partitions appended with `tables.write_clips`,
  each followed by `engine.incremental_validate`, a rollup and a run diff;
  metadata families only (plus speaking_rate) over a table with a hot
  duplicate key, so `bytes` is stored but never read.

See README.md in this directory for the metric definitions.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import statistics
import sys
import time
from dataclasses import dataclass, replace
from functools import partial

import pandas as pd
from pyspark.sql import functions as F

from real_time_anomaly_detection_spark import engine, report, synth, tables
from real_time_anomaly_detection_spark import manifest as mf
from real_time_anomaly_detection_spark.audio import codecs
from real_time_anomaly_detection_spark.operators import (
    audio_checks, drift, referential, speaking_rate, stats, uniqueness)
from real_time_anomaly_detection_spark.schemas import CLIPS, PARTITION_VERDICTS, TRANSCRIPTS_REF
from real_time_anomaly_detection_spark.session import get_spark

from .mem import PeakPss
from .trace import Tracer

CORES = 4
HEAP = "2g"  # driver JVM heap, at most
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
AUDIO = ("column_stats", "uniqueness", "referential", "drift", "audio")
METADATA = ("column_stats", "uniqueness", "referential", "drift", "speaking_rate")
# constraints a partition without any planted defect must pass. Drift is
# left out: on a partition of a few hundred rows, PSI over 24 bins reads up
# to ~0.3 by sampling noise alone, above the default 0.25 threshold, so a
# clean partition may fail it (deterministically, for a given seed).
CLEAN_PASS = (
    "column_stats:sr_hz", "column_stats:dur_ms", "uniqueness",
    "pcm_check", "transcript_check",
)
# No-op resumes run in groups, one after the warm-up and one after each
# timed operation, so that their median, like the operations', spans the
# whole run rather than one moment of the shared host's load. The first call
# of a group is untimed: it overlaps the cleanup of the operation before it
# (and, in the first group, the JIT compiling its path) and reads up to
# twice as long as the calls after it.
NOOP_SETTLE, NOOP_PER_OP = 1, 2


@dataclass(frozen=True)
class Spec:
    n_clips: int
    clips_per_partition: int
    checks: tuple[str, ...]
    hot_key_rate: float = 0.20
    batch_parts: int = 0  # > 0: ingest_resume, partitions appended per epoch
    # timed operations a run makes at least, whatever --seconds says: with
    # operations about half as long as the run, a time limit alone makes
    # some runs stop after one operation fewer, and the median jumps
    min_ops: int = 2


SPECS = {
    "full_audio": Spec(2000, 200, AUDIO, min_ops=3),
    "ingest_resume": Spec(2000, 200, METADATA, hot_key_rate=0.5, batch_parts=2),
}


def golden(spec: Spec, seed: int) -> synth.SynthConfig:
    """The golden fixture (one planted defect per partition role: 0 clean |
    1 dup + hot key | 2 nulls | 3 zeros | 4 near-constant | 5 drift |
    6 corrupt pcm | 7 transcript mismatch | 8 empty | 9 clean) at `seed`."""
    return replace(synth.golden_config(spec.n_clips, spec.clips_per_partition),
                   seed=seed, hot_key_rate=spec.hot_key_rate)


def planted_parts(cfg: synth.SynthConfig) -> set[int]:
    knobs = (cfg.dup_rate, cfg.null_rate_knob, cfg.zero_rate_knob, cfg.const_knob,
             cfg.drift_knob, cfg.corrupt_pcm_rate, cfg.transcript_mismatch_rate)
    out = set(cfg.empty_parts).union(*knobs)
    if cfg.hot_key_part is not None:
        out.add(cfg.hot_key_part)
    return out


def expected_statuses(cfg: synth.SynthConfig) -> dict[tuple[int, str], str]:
    """(part_id, constraint) -> status every planted role must produce, and
    the passes every clean partition must produce."""
    exp: dict[tuple[int, str], str] = {}
    planted = planted_parts(cfg)
    for p in range(-(-cfg.n_clips // cfg.clips_per_partition)):
        if p in cfg.empty_parts:
            exp[(p, "column_stats:dur_ms")] = "insufficient_data"
            exp[(p, "drift:dur_ms")] = "insufficient_data"
            continue
        if p not in planted:
            exp.update({(p, c): "pass" for c in CLEAN_PASS})
            continue
        if p in cfg.dup_rate or p == cfg.hot_key_part:
            exp[(p, "uniqueness")] = "fail"
        if p in cfg.null_rate_knob:
            exp[(p, "column_stats:sr_hz")] = "fail"
        if p in cfg.zero_rate_knob or p in cfg.const_knob:
            exp[(p, "column_stats:dur_ms")] = "fail"
        if p in cfg.drift_knob:
            exp[(p, "drift:dur_ms")] = "fail"
        if p in cfg.corrupt_pcm_rate:
            exp[(p, "pcm_check")] = "fail"
        if p in cfg.transcript_mismatch_rate:
            exp[(p, "transcript_check")] = "fail"
    return exp


def digest(verdict_rows, skip: tuple[str, ...] = ()) -> str:
    """sha256 of the sorted (part_id, constraint, status) triples, leaving
    out the constraints named in `skip`."""
    triples = sorted((r.part_id, r.constraint, r.status) for r in verdict_rows
                     if r.constraint not in skip)
    return hashlib.sha256(repr(triples).encode()).hexdigest()


def median(xs) -> float:
    return float(statistics.median(xs))


_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"perfbench [{time.perf_counter() - _T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


class Bench:
    """One run of one workload: set-up, the timed closed loop, the no-op
    resume, the correctness checks and (traced) the per-layer probes."""

    def __init__(self, spec: Spec, seed: int, seconds: float, traced: bool, work: str):
        self.spec, self.seed, self.seconds, self.traced = spec, seed, seconds, traced
        self.work = work
        self.cfg = golden(spec, seed)
        self.vcfg = engine.ValidationConfig(checks=spec.checks)
        self.audio_on = "audio" in spec.checks
        self.ref_fn = partial(synth.reference_pcm, self.cfg)  # picklable
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.setup_s = 0.0
        self.noop_s: list[float] = []  # timed no-op resumes
        self.layer: dict[str, float] = {}

    # ------------------------------------------------------------ set-up
    def _phase(self, name: str, fn):
        """Run one set-up phase under a span; its time counts to setup_s."""
        t0 = time.perf_counter()
        with self.tr.span(name):
            out = fn()
        self.setup_s += time.perf_counter() - t0
        log(f"{name}: {time.perf_counter() - t0:.2f}s")
        return out

    def setup(self, managed: bool) -> None:
        """Session, inputs and drift baseline. `managed`: the input table is
        written with `tables.write_clips` and read with `tables.read_clips`;
        otherwise it is a plain parquet landing zone."""
        self.tr = Tracer(None, self.traced)
        self.spark = self._phase("session.start", lambda: get_spark(
            "perfbench", cores=CORES, extra=_session_conf(self.work)))
        self.tr.sc = self.spark.sparkContext
        self.table = os.path.join(self.work, "clips")
        self._phase("synth.gen", lambda: self._generate(managed))
        self.clips = self._phase("tables.read" if managed else "landing.read", lambda: (
            tables.read_clips(self.spark, self.table, use_iceberg=False) if managed
            else self.spark.read.parquet(self.table)))
        clean = sorted(set(range(self._n_parts())) - planted_parts(self.cfg))
        self.baseline = self._phase("drift.baseline", lambda: drift.make_baseline(
            self.clips.filter(F.col("part_id").isin(clean)), ("dur_ms", "sr_hz")))
        # correctness oracle: clip ids per partition vs the refs table
        # (bookkeeping of the benchmark, not counted as set-up)
        ids = self.clips.select("part_id", "clip_id").collect()
        ref_ids = set(self.refs_pdf.clip_id)
        self.n_rows: dict[int, int] = {}
        self.missing: dict[int, int] = {}
        for r in ids:
            self.n_rows[r.part_id] = self.n_rows.get(r.part_id, 0) + 1
            self.missing[r.part_id] = self.missing.get(r.part_id, 0) + (r.clip_id not in ref_ids)
        self.expected = expected_statuses(self.cfg)

    def _n_parts(self) -> int:
        return -(-self.cfg.n_clips // self.cfg.clips_per_partition)

    def _generate(self, managed: bool) -> None:
        # generated on the driver: a table this small is made faster in
        # process than by Python workers that would first have to start
        gen = self.spark.createDataFrame(synth.clips_pdf(self.cfg), schema=CLIPS)
        self.refs_pdf = synth.transcripts_ref_pdf(self.cfg)
        self.refs = self.spark.createDataFrame(self.refs_pdf, schema=TRANSCRIPTS_REF).persist()
        self.refs.count()
        if managed:
            with self.tr.span("tables.write"):
                tables.write_clips(self.spark, gen, self.table, mode="overwrite", use_iceberg=False)
        else:
            with self.tr.span("landing.write"):
                gen.write.partitionBy("part_id").parquet(self.table)

    # ------------------------------------------------------------ checks
    def check(self, vrows, violrows, parts=None, table_wide=True) -> list[str]:
        """Problems with one operation's outputs; `parts` limits the checked
        partitions (an ingest epoch validates only its batch)."""
        bad: list[str] = []
        runnable = set(self.vcfg.runnable_constraints(self.refs, self.baseline, self.ref_fn))
        got = {(r.part_id, r.constraint): r for r in vrows}
        if len(got) != len(vrows):
            bad.append("duplicate (part_id, constraint) verdict rows")
        parts = set(self.n_rows) if parts is None else set(parts)
        for (p, c), status in self.expected.items():
            if p in parts and c in runnable:
                r = got.get((p, c))
                if r is None or r.status != status:
                    bad.append(f"part {p} {c}: want {status}, got {r and r.status}")
        for r in vrows:
            if r.status == "error":
                bad.append(f"unplanted error verdict {r.part_id} {r.constraint}: {r.detail}")
        if "referential" in runnable:
            for p in parts:
                r = got.get((p, "referential"))
                want = "fail" if self.missing[p] else "pass"
                if r is None or r.status != want or r.metrics["n_missing"] != self.missing[p]:
                    bad.append(f"part {p} referential: want {want}/{self.missing[p]} missing")
            if table_wide:
                n_orphans = sum(v.constraint == "referential" and v.part_id == -1
                                for v in violrows)
                if n_orphans != int(self.cfg.orphan_ref_rate * self.cfg.n_clips):
                    bad.append(f"orphan refs: got {n_orphans}")
        pcm_parts = {v.part_id for v in violrows if v.constraint == "pcm_check"}
        if not pcm_parts <= set(self.cfg.corrupt_pcm_rate):
            bad.append(f"pcm_check violations outside corrupt partitions: {sorted(pcm_parts)}")
        return bad

    def record(self, problems: list[str]) -> None:
        self.attempted += 1
        if problems:
            self.failed += 1
            self.problems.extend(problems[:5])

    # ------------------------------------------------------------ resume
    def resume(self, clips, manifest_path: str, run_id: str):
        """`engine.incremental_validate`; traced, the same public calls it
        makes, each under its own span (then None when nothing is pending)."""
        if not self.tr.enabled:
            return engine.incremental_validate(
                self.spark, clips, manifest_path, refs=self.refs,
                baseline_rows=self.baseline, ref_pcm_fn=self.ref_fn,
                cfg=self.vcfg, run_id=run_id)
        with self.tr.span("manifest.read"):
            man = mf.read_manifest(self.spark, manifest_path)
        with self.tr.span("manifest.pending"):
            n_c = len(self.vcfg.runnable_constraints(self.refs, self.baseline, self.ref_fn))
            pend = mf.pending_partitions(clips.select("part_id"), man, n_c)
            pend_ids = [r.part_id for r in pend.collect()]
        if not pend_ids:
            return None
        with self.tr.span("engine.build"):
            out = engine.validate(
                self.spark, clips.filter(F.col("part_id").isin(pend_ids)), refs=self.refs,
                baseline_rows=self.baseline, ref_pcm_fn=self.ref_fn, cfg=self.vcfg,
                run_id=run_id)
        with self.tr.span("manifest.append"):
            mf.append_manifest(out[0], run_id, manifest_path)
        return out

    def pending(self, clips, manifest_path: str) -> int:
        """Partitions of `clips` the manifest does not yet record as done."""
        man = mf.read_manifest(self.spark, manifest_path)
        n_c = len(self.vcfg.runnable_constraints(self.refs, self.baseline, self.ref_fn))
        return mf.pending_partitions(clips.select("part_id"), man, n_c).count()

    def noop_resumes(self, clips, manifest_path: str) -> None:
        """One group of resumes that must find nothing pending; the times of
        all but the first go to `noop_s`. A resume that does find partitions
        pending validates them into the manifest under its run id, so one
        read of the manifest afterwards checks them all."""
        n = NOOP_SETTLE + NOOP_PER_OP
        times, rids = [], [f"noop{self.attempted}.{k}" for k in range(n)]
        for rid in rids:
            with self.tr.span("op.noop_resume"):
                t0 = time.perf_counter()
                self.resume(clips, manifest_path, rid)
                times.append(time.perf_counter() - t0)
        man = mf.read_manifest(self.spark, manifest_path)
        ran = {r.run_id for r in man.filter(F.col("run_id").isin(rids))
               .select("run_id").distinct().collect()}
        for rid in rids:
            self.record([f"no-op resume {rid} found pending partitions"] if rid in ran else [])
        log("no-op resumes: " + " ".join(f"{t:.3f}" for t in times))
        self.noop_s.extend(times[NOOP_SETTLE:])

    # ------------------------------------------------------------ probes
    def probes(self, clips, fused_s: float) -> None:
        """Traced only: each operator family's public functions forced in
        isolation over one persisted metadata projection, plus in-process
        kernel micro-timings. `fused_s` is the time of one warm, untraced
        `engine.validate` of `clips` with both outputs written."""
        tr, vc = self.tr, self.vcfg
        meta_cols = ["part_id", "clip_id", *vc.columns, *vc.categorical, "transcript"]
        meta = clips.select(*dict.fromkeys(meta_cols)).persist()
        cached = [meta]
        with tr.span("probe.meta_scan"):
            meta.count()
        fam_s: dict[str, float] = {}

        def fam(name: str, fn):
            with tr.span(name) as s:
                fn()
            fam_s[name] = s["end"] - s["start"]

        def _stats():
            prof = stats.profile(meta, vc.columns, vc.categorical, approx=vc.approx)
            self.layer["stats.verdict_rows"] = len(stats.stats_verdicts(prof, vc.columns).collect())

        def _uniqueness():
            dups = uniqueness.duplicate_keys(meta, "clip_id", "part_id", vc.salt_buckets).persist()
            cached.append(dups)
            uniqueness.uniqueness_verdicts(meta, dups=dups).collect()
            self.layer["uniqueness.violation_rows"] = len(
                uniqueness.uniqueness_violations(meta, dups=dups).collect())
            self.layer["uniqueness.dup_keys"] = dups.count()

        def _referential():
            miss = referential.missing_refs(meta, self.refs).persist()
            cached.append(miss)
            referential.referential_verdicts(meta, self.refs, miss_pre=miss).collect()
            viol = referential.referential_violations(meta, self.refs, miss_pre=miss).collect()
            self.layer["referential.missing_rows"] = sum(v.part_id >= 0 for v in viol)
            self.layer["referential.orphan_rows"] = sum(v.part_id < 0 for v in viol)

        def _drift():
            drift.drift_verdicts(meta, self.baseline).collect()

        def _speaking_rate():
            sig = speaking_rate.speaking_rate_signals(meta).persist()
            out = speaking_rate.speaking_rate_outliers(sig, vc.speaking_rate_groups).persist()
            cached.extend([sig, out])
            speaking_rate.speaking_rate_verdicts(meta, signals=sig, outliers=out).collect()
            self.layer["speaking_rate.violation_rows"] = len(
                speaking_rate.speaking_rate_violations(meta, signals=sig, outliers=out).collect())

        for name, fn in (("stats", _stats), ("uniqueness", _uniqueness),
                         ("referential", _referential), ("drift", _drift),
                         ("speaking_rate", _speaking_rate)):
            fam(name, fn)

        # the audio family: over the workload's table where audio is on;
        # where it is off, over two partitions so the layer still reads
        audio_src = clips if self.audio_on else clips.filter(F.col("part_id") < 2)
        audio_meta = meta if self.audio_on else meta.filter(F.col("part_id") < 2)

        def _pcm():
            checked = audio_checks.pcm_check(
                audio_src, self.ref_fn, vc.snr_threshold, with_len=True).persist()
            cached.append(checked)
            pv = audio_checks.pcm_verdicts(checked).collect()
            self._n_audio = sum(r.metrics["n_rows"] for r in pv)
            self.layer["audio_checks.pcm_fail_rows"] = len(
                audio_checks.pcm_violations(checked, vc.snr_threshold).collect())
            self.layer["audio_checks.decode_errors"] = sum(
                r.detail is not None and "undecodable" in r.detail for r in pv)
            self._payload_mb = checked.agg(F.sum("payload_len")).first()[0] / 2**20

        def _transcript():
            tr_df = audio_checks.transcript_check(audio_meta, self.refs).persist()
            cached.append(tr_df)
            audio_checks.transcript_verdicts(tr_df).collect()
            audio_checks.transcript_violations(tr_df).collect()

        fam("audio_checks.pcm", _pcm)
        fam("audio_checks.transcript", _transcript)
        for df in cached:
            df.unpersist()

        pcm_s = fam_s["audio_checks.pcm"]
        kernel_us = self.kernel_timings()
        self.layer["audio_checks.payload_mb_per_s"] = self._payload_mb / pcm_s
        self.layer["audio_checks.kernel_share"] = kernel_us * self._n_audio / (pcm_s * 1e6 * CORES)
        in_cfg = {"column_stats": ["stats"], "uniqueness": ["uniqueness"],
                  "referential": ["referential"], "drift": ["drift"],
                  "speaking_rate": ["speaking_rate"],
                  "audio": ["audio_checks.pcm", "audio_checks.transcript"]}
        isolated = sum(fam_s[f] for c in vc.checks for f in in_cfg[c])
        self.layer["engine.share_ratio"] = isolated / fused_s

    def kernel_timings(self) -> float:
        """Per-clip µs of codecs.decode, codecs.snr_db and synth.reference_pcm
        per codec, timed in-process on the clean partitions 0 and 9; returns
        the codec-mix-weighted kernel µs per clip."""
        cpp = self.cfg.clips_per_partition
        with self.tr.span("probe.kernels"):
            pdf = pd.concat([synth.clips_pdf(self.cfg, p * cpp, (p + 1) * cpp) for p in (0, 9)])
            total = 0.0
            for codec in codecs.CODECS:
                rows = pdf[pdf.codec == codec]
                if rows.empty:
                    self.layer.update({f"codecs.decode_us.{codec}": 0.0,
                                       f"codecs.snr_us.{codec}": 0.0,
                                       f"synth.ref_pcm_us.{codec}": 0.0})
                    continue
                payloads, ids = list(rows.bytes), list(rows.clip_id)
                refs = [synth.reference_pcm(self.cfg, c) for c in ids]
                obs = [codecs.decode(b, codec) for b in payloads]
                n = len(ids)
                dec = _per_call_us(lambda: [codecs.decode(b, codec) for b in payloads], n)
                snr = _per_call_us(lambda: [codecs.snr_db(r, o) for r, o in zip(refs, obs)], n)
                ref = _per_call_us(lambda: [synth.reference_pcm(self.cfg, c) for c in ids], n)
                self.layer[f"codecs.decode_us.{codec}"] = dec
                self.layer[f"codecs.snr_us.{codec}"] = snr
                self.layer[f"synth.ref_pcm_us.{codec}"] = ref
                total += (dec + snr + ref) * len(rows) / len(pdf)
        return total


def _per_call_us(fn, n: int, repeats: int = 3) -> float:
    best = float("inf")
    for _ in range(repeats):
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    return best / n * 1e6


def _session_conf(work: str) -> dict[str, str]:
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "local"),
        # The serial collector grows the heap by how much of it is live
        # after a collection, not by how long collections took, so the
        # JVM's resident size follows what the engine persists rather than
        # the host's load (the default collector's time-driven sizing made
        # peak_pss_mb vary by a fifth between identical runs). No
        # hsperfdata file in /tmp: the run writes only inside the checkout.
        "spark.driver.memory": HEAP,
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -XX:+UseSerialGC -XX:-UsePerfData"),
        # keep every job of the run visible to the status tracker
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def warm_up(b: Bench, op, **kw) -> None:
    """One untraced operation whose time counts as set-up: codegen, the JIT
    and the Python workers warm up here, so that the timed operations start
    closer to steady state."""
    b.tr.enabled = False
    t0 = time.perf_counter()
    op(0, **kw)
    b.setup_s += time.perf_counter() - t0
    b.tr.enabled = b.traced
    log(f"warm-up: {time.perf_counter() - t0:.2f}s")


def closed_loop(b: Bench, op, noop_on) -> tuple[list[tuple[float, int, bool]], float]:
    """Run `op(k) -> (seconds, clips) | None` back to back until the
    operations have taken `b.seconds` and at least `min_ops` of them have
    run; before the first and after each completed one, a group of no-op
    resumes of the `(clips, manifest path)` that `noop_on()` gives. A traced
    run alternates
    untraced and traced operations, so the difference is the tracing
    overhead. Returns ((seconds, clips, traced) per completed operation,
    peak PSS MB)."""
    ops = []
    with PeakPss() as mem:
        k, spent = 1, 0.0
        b.noop_resumes(*noop_on())
        while spent < b.seconds or k <= b.spec.min_ops:
            b.tr.enabled = b.traced and k % 2 == 0
            t0 = time.perf_counter()
            res = op(k)
            spent += res[0] if res else time.perf_counter() - t0
            if res:
                ops.append((*res, b.tr.enabled))
                log(f"op {k}: {res[0]:.3f}s")
                b.noop_resumes(*noop_on())
            k += 1
    b.tr.enabled = b.traced
    return ops, mem.peak_mb


# ---------------------------------------------------------------- one-shot
def run_oneshot(b: Bench) -> dict:
    """full_audio: repeated `engine.validate` over one table."""
    b.setup(managed=True)
    n_clips = sum(b.n_rows.values())
    digests: set[str] = set()
    last: list = []

    def op(k: int, manifest_path: str | None = None) -> tuple[float, int] | None:
        rid = f"op{k}"
        try:
            t0 = time.perf_counter()
            with b.tr.span("op.validate"):
                with b.tr.span("engine.build"):
                    v, viol = engine.validate(
                        b.spark, b.clips, refs=b.refs, baseline_rows=b.baseline,
                        ref_pcm_fn=b.ref_fn, cfg=b.vcfg, run_id=rid,
                        manifest_path=manifest_path)
                # the noop writes fill these caches, so the correctness
                # check below reads the outputs without recomputing them
                v, viol = v.persist(), viol.persist()
                with b.tr.span("engine.verdicts"):
                    _noop(v)
                with b.tr.span("engine.violations"):
                    _noop(viol)
            dt = time.perf_counter() - t0
            vrows, violrows = v.collect(), viol.collect()
            v.unpersist()
            viol.unpersist()
        except Exception as exc:  # noqa: BLE001 — a failed operation is counted, not fatal
            b.record([f"{rid} raised {type(exc).__name__}: {exc}"[:300]])
            return None
        finally:
            engine.release(rid)
        b.record(b.check(vrows, violrows))
        digests.add(digest(vrows))
        last[:] = [*last[-1:], vrows]
        return dt, n_clips

    # the warm-up also records its verdicts in a manifest, against which
    # the no-op resumes run
    man = os.path.join(b.work, "manifest")
    if b.traced:
        n_pending = b.pending(b.clips, man)
    warm_up(b, op, manifest_path=man)
    ops, peak_mb = closed_loop(b, op, lambda: (b.clips, man))
    b.record(["verdict digest differs between repetitions"] if len(digests) > 1 else [])

    out = _e2e(b, ops, peak_mb)
    if b.traced:
        prev = b.spark.createDataFrame(last[0], PARTITION_VERDICTS)
        cur = b.spark.createDataFrame(last[-1], PARTITION_VERDICTS)
        with b.tr.span("manifest.append"):
            mf.append_manifest(cur, "probe", os.path.join(b.work, "manifest_probe"))
        with b.tr.span("report.rollup"):
            report.overall_rollup(cur).collect()
        with b.tr.span("report.run_diff"):
            report.run_diff(prev, cur).collect()
        # partitions the warm-up recorded in the manifest / pending before it
        validated = (mf.read_manifest(b.spark, man).filter(F.col("run_id") == "op0")
                     .select("part_id").distinct().count())
        b.layer["manifest.revalidated_ratio"] = validated / n_pending
        # each operation of the loop is a fused validate of the table
        b.probes(b.clips, median(t for t, _, traced in ops if not traced))
        _trace_overhead(b, ops)
        _manifest_layer(b, man)
    return out


# ---------------------------------------------------------------- ingest
def run_ingest(b: Bench) -> dict:
    """ingest_resume: append a batch of partitions, resume, report; repeat.
    The generated table is the landing zone the batches are read from."""
    b.setup(managed=False)
    landing = b.clips
    parts = sorted(b.n_rows)
    batches = [parts[i:i + b.spec.batch_parts] for i in range(0, len(parts), b.spec.batch_parts)]

    cycle = {"n": -1}
    state: dict = {}
    revalidated: list[float] = []  # partitions validated / partitions pending

    def new_cycle() -> None:
        cycle["n"] += 1
        state.update(table=os.path.join(b.work, f"managed{cycle['n']}"),
                     man=os.path.join(b.work, f"manifest{cycle['n']}"),
                     next=0, prev=None, rows=[], parts=[])

    def epoch(k: int) -> tuple[float, int] | None:
        if state["next"] == len(batches):
            new_cycle()
        batch = batches[state["next"]]
        state["next"] += 1
        rid = f"c{cycle['n']}e{k}"
        try:
            t0 = time.perf_counter()
            with b.tr.span("op.epoch"):
                with b.tr.span("tables.write"):
                    tables.write_clips(
                        b.spark, landing.filter(F.col("part_id").isin(batch)),
                        state["table"], mode="append", use_iceberg=False)
                with b.tr.span("tables.read"):
                    cur = tables.read_clips(b.spark, state["table"], use_iceberg=False)
                state["cur"] = cur
                v, viol = b.resume(cur, state["man"], rid)
                # the rollup and the correctness check reuse the outputs
                v, viol = v.persist(), viol.persist()
                with b.tr.span("engine.verdicts"):
                    _noop(v)
                with b.tr.span("engine.violations"):
                    _noop(viol)
                with b.tr.span("report.rollup"):
                    _noop(report.overall_rollup(v))
                if state["prev"] is not None:
                    with b.tr.span("report.run_diff"):
                        man = mf.read_manifest(b.spark, state["man"])
                        _noop(report.run_diff(mf.run_verdicts(man, state["prev"]),
                                              mf.run_verdicts(man, rid)))
            dt = time.perf_counter() - t0
            vrows, violrows = v.collect(), viol.collect()
            v.unpersist()
            viol.unpersist()
        except Exception as exc:  # noqa: BLE001 — a failed operation is counted, not fatal
            b.record([f"{rid} raised {type(exc).__name__}: {exc}"[:300]])
            return None
        finally:
            engine.release(rid)
        b.record(b.check(vrows, violrows, parts=batch, table_wide=False))
        revalidated.append(len({r.part_id for r in vrows if r.part_id >= 0}) / len(batch))
        state.update(prev=rid)
        state["rows"].extend(r for r in vrows if r.part_id >= 0)
        state["parts"].extend(batch)
        return dt, sum(b.n_rows[p] for p in batch)

    # after an epoch, every partition of the managed table is validated
    def noop_on():
        return state["cur"], state["man"]

    new_cycle()
    warm_up(b, epoch)  # the managed writer and the manifest start cold
    ops, peak_mb = closed_loop(b, epoch, noop_on)

    # The resume-equivalence oracle: one untraced validate of the whole
    # landing zone, run warm after the loop. Its time is also the fused
    # time engine.share_ratio divides by.
    b.tr.enabled = False
    try:
        t0 = time.perf_counter()
        v, viol = engine.validate(b.spark, landing, refs=b.refs, baseline_rows=b.baseline,
                                  ref_pcm_fn=b.ref_fn, cfg=b.vcfg, run_id="oneshot")
        _noop(v)
        _noop(viol)
        oneshot_s = time.perf_counter() - t0
        vrows = v.collect()
        b.record(b.check(vrows, viol.collect()))
    finally:
        engine.release("oneshot")
        b.tr.enabled = b.traced
    oneshot = {p: [r for r in vrows if r.part_id == p] for p in parts}
    # the epochs of the last cycle give the verdicts the one-shot gave for
    # the same partitions. speaking_rate is left out: its robust outliers
    # are fitted per codec group over whatever set of partitions one call
    # validates, so they depend on the batching.
    skip = ("speaking_rate",)
    want = (r for p in state["parts"] for r in oneshot[p])
    same = digest(state["rows"], skip) == digest(want, skip)
    b.record([] if same else ["resume verdicts differ from the one-shot validate"])
    out = _e2e(b, ops, peak_mb)
    if b.traced:
        b.layer["manifest.revalidated_ratio"] = max(revalidated)
        b.probes(landing, oneshot_s)
        _trace_overhead(b, ops)
        _manifest_layer(b, state["man"], state["table"])
    return out


# ---------------------------------------------------------------- metrics
def _e2e(b: Bench, ops, peak_mb: float) -> dict:
    """End-to-end metrics: name -> (value, unit), in BENCHMARK.json order."""
    if not ops:
        raise RuntimeError("no operation completed: " + "; ".join(b.problems[:3]))
    out = {
        "clips_per_s": median(n / t for t, n, _ in ops),
        "epoch_s_p50": median(t for t, _, _ in ops),
        "resume_noop_s": median(b.noop_s),
        "setup_s": b.setup_s,
        "peak_pss_mb": peak_mb,
    }
    return {name: (out[name], unit) for name, unit in declared("end_to_end").items()}


def _trace_overhead(b: Bench, ops) -> None:
    plain = [t for t, _, traced in ops if not traced]
    traced = [t for t, _, tr in ops if tr]
    if plain and traced:
        b.layer["trace.op_s_untraced"] = median(plain)
        b.layer["trace.op_s_traced"] = median(traced)
        b.layer["trace.overhead_s"] = median(traced) - median(plain)


def _manifest_layer(b: Bench, man: str, table: str | None = None) -> None:
    b.layer["manifest.files"] = len(glob.glob(os.path.join(man, "*.parquet")))
    b.layer["manifest.rows"] = mf.read_manifest(b.spark, man).count()
    b.layer["tables.snapshot_files"] = len(os.listdir(os.path.join(table or b.table, "_snapshots")))


def declared(kind: str) -> dict[str, str]:
    """name -> unit of the `end_to_end` or `per_layer` metrics that
    BENCHMARK.json declares, in its order."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


# span name -> per-layer metric fed by the median self time of those spans
SPAN_METRICS = {
    "session.start": "session.start_s",
    "synth.gen": "synth.gen_s",
    "tables.write": "tables.write_s",
    "tables.read": "tables.read_s",
    "drift.baseline": "drift.baseline_s",
    "engine.build": "engine.build_s",
    "engine.verdicts": "engine.verdicts_s",
    "engine.violations": "engine.violations_s",
    "manifest.read": "manifest.read_s",
    "manifest.pending": "manifest.pending_s",
    "manifest.append": "manifest.append_s",
    "report.rollup": "report.rollup_s",
    "report.run_diff": "report.run_diff_s",
    "stats": "stats.s",
    "uniqueness": "uniqueness.s",
    "referential": "referential.s",
    "drift": "drift.s",
    "speaking_rate": "speaking_rate.s",
    "audio_checks.pcm": "audio_checks.pcm_s",
    "audio_checks.transcript": "audio_checks.transcript_s",
}


def layer_metrics(b: Bench) -> dict:
    """Per-layer metrics of a traced run, from its spans and probes:
    name -> (value, unit), in BENCHMARK.json order."""
    tr = b.tr
    tr.harvest_counts()
    tr.self_times()
    out = dict(b.layer)
    for span, metric in SPAN_METRICS.items():
        selfs = [s["self_s"] for s in tr.by_name(span)]
        out[metric] = median(selfs) if selfs else 0.0
    # engine counts per timed traced operation
    counts = ("jobs", "stages", "tasks", "failed_tasks")
    per_op = []
    for root in tr.by_name("op.validate") + tr.by_name("op.epoch"):
        kids = [s for s in tr.spans
                if s["parent"] == root["id"] and s["name"].startswith("engine.")]
        per_op.append({k: sum(s[k] for s in kids) for k in counts})
    for k in counts:
        out[f"engine.{k}"] = median([c[k] for c in per_op]) if per_op else 0.0
    return {name: (out[name], unit) for name, unit in declared("per_layer").items()}
