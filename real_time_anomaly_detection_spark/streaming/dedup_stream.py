"""Incremental near-duplicate detection at ingest time (streaming dedup)
over text documents (MinHash-LSH, the q34 pipeline).

The batch dedup family answers "which pairs in this corpus are near-dups?";
a 100 TB ingest pipeline instead asks, PER ARRIVING BATCH, "which of these
new items duplicate something we already hold?" — re-running the all-corpus
job per batch is O(corpus) per epoch and unusable. This module recasts the
LSH pipeline onto the collector loop (readStream + foreachBatch, the same
T1/T2/T5 skeleton as streaming/incremental.py):

  per micro-batch:
    1. band the new items — same md5-portable minhash as the batch query,
       so streamed results are bit-identical to the batch pipeline's on the
       same corpus;
    2. candidates = new-bands JOIN accumulated-bands-store (new vs
       EVERYTHING seen so far) UNION new-bands self-join (within-batch
       pairs) — both keyed on (band, bucket), never all-pairs;
    3. verify the exact hashed-token Jaccard on candidates only, reading
       payloads from the store + the batch;
    4. append the batch's bands + payloads to the stores, epoch-keyed
       (overwrite-own-epoch => a retried epoch replaces its partial output —
       same idempotency contract as stream_validate);
    5. write verified pairs under pairs/epoch_id=N.

State is a pair of parquet tables, NOT driver memory — executors join
against it, so the accumulated corpus can be arbitrarily large. Both stores
are BUCKET-PARTITIONED so per-epoch cost tracks the batch's candidate
volume, not total store size:

  bands_store   partitioned by sbucket = pmod(hash(band, bucket), B) — the
                epoch read prunes to the sbuckets the new batch actually
                touches (a driver-side list of <= B ints pushed down as a
                partition IN-filter, i.e. genuine file pruning);
  payload_store partitioned by pbucket = pmod(hash(doc_id), B) — the verify
                read prunes to the pbuckets of the candidate pairs' store
                side. All epochs of one doc_id share a pbucket, so the
                keep-latest-epoch window below is exact within the pruned
                subset.

Stale band rows (a doc re-ingested with CHANGED content leaves its old
bands in sbuckets the new epoch doesn't overwrite) are harmless by
construction: they can only ever ADD candidate pairs, and every candidate
is verified against the keep-latest payload — extra verify work, never a
wrong pair. Payloads, by contrast, MUST be keep-latest (a pair's similarity
is computed on them), hence the max-epoch window on the payload read.

The bucket-size cap / salt mitigations from queries._lsh_candidate_pairs
apply to both the within-batch self-join (reused directly) and the
cross-batch store join (same two knobs, re-derived for the two-sided case).
At real scale both stores would be Iceberg tables with the same bucket
transform, making the step-2 join co-located as well as pruned.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..queries import (
    _hashed_tokens,
    _lsh_candidate_pairs,
    _mh_bands_rows,
    _resolve_banding,
)

DOCS_SCHEMA = "doc_id long, text string"
JACCARD_THRESHOLD = 0.5
STORE_BUCKETS = 64  # bump at real scale so small batches prune hard


# ---------------------------------------------------------------- text items

def _text_prepare(batch: DataFrame) -> DataFrame:
    """(doc_id, payload) with payload = 60-bit hashed token array."""
    return batch.select("doc_id", _hashed_tokens(F.col("text")).alias("payload"))


def _text_bands(batch: DataFrame, n_bands: int = 4,
                rows_per_band: int = 2) -> DataFrame:
    """Delegates to queries._mh_bands_rows, so wide production geometries
    take the same vectorized numpy minhash path as batch q29/q34 — streamed
    and batch bands are identical at any geometry."""
    return _mh_bands_rows(batch, n_bands, rows_per_band)


def _jaccard(ca: str, cb: str):
    n_common = F.size(F.array_intersect(ca, cb))
    return n_common / (F.size(ca) + F.size(cb) - n_common)


# ---------------------------------------------------------------- shared core

def _sbucket(n: int):
    return F.pmod(F.hash(F.col("band"), F.col("bucket")), F.lit(n)).cast("int")


def _pbucket(col: str, n: int):
    return F.pmod(F.hash(F.col(col)), F.lit(n)).cast("int")


def _verify(cands: DataFrame, pay_a: DataFrame, pay_b: DataFrame,
            threshold: float) -> DataFrame:
    pa = pay_a.select(F.col("doc_id").alias("doc_a"), F.col("payload").alias("pa"))
    pb = pay_b.select(F.col("doc_id").alias("doc_b"), F.col("payload").alias("pb"))
    # Exact Jaccard size bound (J <= min-size/max-size): drop size-
    # incompatible candidate pairs on 8-byte size columns BEFORE the wide
    # token-array rows shuffle into the verify joins. Slack matches the
    # batch pipeline (rounded-similarity final filter).
    sa = pa.select("doc_a", F.size("pa").alias("_sza"))
    sb = pb.select("doc_b", F.size("pb").alias("_szb"))
    cands = (
        cands.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(
            F.least("_sza", "_szb")
            >= (threshold - 1e-6) * F.greatest("_sza", "_szb")
        )
        .select("doc_a", "doc_b")
    )
    return (
        cands.join(pa, "doc_a")
        .join(pb, "doc_b")
        .withColumn("similarity", F.round(_jaccard("pa", "pb"), 6))
        .filter(F.col("similarity") >= threshold)
        .select("doc_a", "doc_b", "similarity")
    )


def _cross_candidates(old_bands: DataFrame, new_bands: DataFrame,
                      max_bucket_size: int | None,
                      salt: int | None) -> DataFrame:
    """(doc_a=stored, doc_b=new) candidate pairs from the two-sided band
    join, with the same two hot-bucket mitigations as the self-join helper
    (queries._lsh_candidate_pairs): a LOSSY size cap counted over the
    COMBINED (store ∪ batch) bucket membership, and an EXACT salt that
    splits one bucket's m_old x m_new work across R tasks (store side gets
    hash(doc_id) % R, the small batch side is replicated to all R salts)."""
    if max_bucket_size is not None:
        # broadcast the few OVER-cap buckets, anti-join (the under-cap set
        # is O(all buckets) — see queries._lsh_candidate_pairs, r5)
        hot = (
            old_bands.select("band", "bucket")
            .unionByName(new_bands.select("band", "bucket"))
            .groupBy("band", "bucket")
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") > max_bucket_size)
            .drop("_n")
        )
        old_bands = old_bands.join(F.broadcast(hot), ["band", "bucket"], "left_anti")
        new_bands = new_bands.join(F.broadcast(hot), ["band", "bucket"], "left_anti")
    # round-robin repartition of the store (probe) side: the pruned store
    # read may be few parquet files; without this the pair emission runs in
    # as few tasks as there are files (same measured pathology as the batch
    # helper's probe side)
    par = old_bands.sparkSession.sparkContext.defaultParallelism * 2
    if salt and salt > 1:
        a = old_bands.repartition(par).withColumn(
            "_salt", F.pmod(F.xxhash64(F.col("doc_id")), F.lit(salt)).cast("int")
        )
        b = new_bands.withColumn("_salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1))))
        joined = a.alias("a").join(b.alias("b"), ["band", "bucket", "_salt"])
    else:
        joined = old_bands.repartition(par).alias("a").join(
            new_bands.alias("b"), ["band", "bucket"]
        )
    return (
        joined
        # a re-ingested doc_id (same id arriving again in a later batch)
        # must not self-pair at similarity 1.0
        .filter(F.col("a.doc_id") != F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


STORE_META_FILE = "store_meta.json"


def _check_store_meta(out_dir: str, meta: dict) -> None:
    """Pin the store-layout parameters (bucket modulus, band geometry) to
    the store's lifetime: written once when the store is
    created, validated on every later invocation. A mismatch is a hard
    error — the caller either passes the stored values or starts a fresh
    out_dir. (At real scale this marker lives in the Iceberg table's
    properties; here it is a JSON file beside the stores.)"""
    path = os.path.join(out_dir, STORE_META_FILE)
    if os.path.exists(path):
        with open(path) as f:
            existing = json.load(f)
        if existing != meta:
            raise ValueError(
                "store-layout parameters differ from the values this store "
                f"was created with: stored {existing}, requested {meta}. "
                "Changing store_buckets/band geometry invalidates "
                "the accumulated bands/payload stores (partition pruning and "
                "band collisions would use the wrong layout, silently "
                "dropping cross-batch pairs). Re-run with the stored values "
                "or point out_dir at a fresh location."
            )
    else:
        # no meta, but stores already populated: a marker-less store built
        # by pre-marker code must NOT silently adopt the currently-resolved
        # geometry — the resolved defaults may differ from whatever built
        # the store (e.g. threshold-derived banding vs the old implicit
        # 4x2/6x2), which is exactly the cross-batch-pair-dropping failure
        # this guard exists to prevent
        populated = [
            d for d in ("bands_store", "payload_store")
            if _epoch_dirs(os.path.join(out_dir, d))
        ]
        if populated:
            raise ValueError(
                f"store at {out_dir!r} has committed epochs in {populated} "
                f"but no {STORE_META_FILE}: it predates the layout marker, "
                "and adopting the current defaults could silently change "
                "the geometry it was built with. Backfill the marker with "
                "the legacy values (write store_meta.json matching the "
                "original run's store_buckets/banding) or start a "
                "fresh out_dir."
            )
        os.makedirs(out_dir, exist_ok=True)
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(meta, f, sort_keys=True)
        os.replace(tmp, path)


SNAPSHOT_DIR = "store_snapshots"


def _append_store_snapshot(out_dir: str, epoch_id: int, n_docs: int) -> None:
    """Epoch-commit lineage for the dedup stores (VERDICT r3 #8 / r4 #7 —
    the `tables.py` snapshot-sidecar pattern): one JSON record per epoch,
    written AFTER both store writes succeed, keyed by epoch so a retried
    epoch replaces its own record (same idempotency as the stores). At real
    scale this is the Iceberg snapshot log; here it is the parquet-backend
    sidecar."""
    sp = os.path.join(out_dir, SNAPSHOT_DIR)
    os.makedirs(sp, exist_ok=True)
    import time

    rec = {"epoch_id": int(epoch_id), "committed_at": time.time(),
           "n_docs": int(n_docs)}
    path = os.path.join(sp, f"epoch_{epoch_id}.json")
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(rec, f)
    os.replace(tmp, path)


def store_snapshots(out_dir: str) -> list[dict]:
    """Committed-epoch lineage records, sorted by epoch."""
    sp = os.path.join(out_dir, SNAPSHOT_DIR)
    if not os.path.isdir(sp):
        return []
    out = []
    for f in sorted(os.listdir(sp)):
        if f.startswith("epoch_") and f.endswith(".json"):
            with open(os.path.join(sp, f)) as fh:
                out.append(json.load(fh))
    return sorted(out, key=lambda r: r["epoch_id"])


def _epoch_dirs(root: str) -> set[int]:
    if not os.path.isdir(root):
        return set()
    return {
        int(d.split("=", 1)[1])
        for d in os.listdir(root)
        if d.startswith("epoch_id=")
    }


def verify_store_lineage(out_dir: str, checkpoint_dir: str) -> dict:
    """Cross-check the three epoch-keyed artifacts — store snapshots
    (lineage), the streaming checkpoint's commit log, and the on-disk epoch
    directories — instead of trusting directory listings:

    - every lineage epoch must be <= the checkpoint's next batch id: a
      lineage epoch the checkpoint could never have produced means a FRESH
      checkpoint was pointed at an OLD store — the restarted stream would
      renumber epochs from 0 and silently overwrite early store epochs
      while trusting later ones (lost/duplicated pairs);
    - every lineage epoch must have its pairs/ output (lost-pairs check);
    - an epoch DIRECTORY without a lineage record is legal only at the
      in-flight head (a crash between the store writes and the snapshot
      append — the retry overwrites it); below the committed head it means
      corruption.

    Returns {"epochs": [...], "checkpoint_commits": [...]} when consistent;
    raises ValueError otherwise. Runs automatically at stream start."""
    lineage = {r["epoch_id"] for r in store_snapshots(out_dir)}
    commits_dir = os.path.join(checkpoint_dir, "commits")
    commits = set()
    if os.path.isdir(commits_dir):
        for f in os.listdir(commits_dir):
            if f.isdigit():
                commits.add(int(f))
    next_batch = (max(commits) + 1) if commits else 0
    ahead = {e for e in lineage if e > next_batch}
    if ahead:
        raise ValueError(
            f"store lineage has epochs {sorted(ahead)} beyond the "
            f"checkpoint's next batch id {next_batch}: this checkpoint "
            "cannot have produced them (fresh checkpoint against an old "
            "store?). A restarted stream would renumber epochs and corrupt "
            "the store — reuse the original checkpoint or start a fresh "
            "out_dir."
        )
    head = max(lineage) if lineage else -1
    for artifact in ("pairs", "bands_store", "payload_store"):
        root = os.path.join(out_dir, artifact)
        missing = lineage - _epoch_dirs(root)
        if missing:
            raise ValueError(
                f"committed epochs {sorted(missing)} are missing from "
                f"{artifact} — state lost after commit (the snapshot is "
                "written only after every epoch artifact is on disk)"
            )
        orphans = {
            e for e in _epoch_dirs(root) if e not in lineage and e <= head
        }
        if orphans:
            raise ValueError(
                f"{artifact} has unsnapshotted epochs {sorted(orphans)} "
                f"below the committed lineage head {head} — store corruption"
            )
    return {"epochs": sorted(lineage), "checkpoint_commits": sorted(commits)}


def stream_dedup(
    spark: SparkSession,
    input_path: str,
    checkpoint_dir: str,
    out_dir: str,
    threshold: float | None = None,
    max_bucket_size: int | None = None,
    salt: int | None = None,
    store_buckets: int = STORE_BUCKETS,
    available_now: bool = True,
    processing_time: str = "600 seconds",
    band_kwargs: dict | None = None,
):
    """Watch `input_path` for new document files (DOCS_SCHEMA); emit
    verified near-dup pairs per epoch under `out_dir`/pairs/epoch_id=N.
    `doc_a` is the previously-seen (or lower-id within-batch) item, `doc_b`
    the new one. `max_bucket_size`/`salt` are the hot-bucket mitigations
    from the batch pipeline, applied to both the within-batch and store
    joins. Band geometry DEFAULTS to the threshold-matched derivation
    (queries._banding_for); `band_kwargs` (n_bands/rows_per_band) overrides
    it explicitly.
    Store-layout parameters (store_buckets, band geometry) are pinned to
    the store's lifetime via a marker file written on first run and
    validated on every later run — a mismatched re-invocation raises
    instead of silently dropping cross-batch pairs. Returns the
    StreamingQuery."""
    # Resolve the band geometry ONCE, before anything touches the store:
    # explicit band_kwargs win; otherwise it is derived from the threshold
    # (queries._banding_for — the scale-safe default, VERDICT r4 #1).
    threshold = JACCARD_THRESHOLD if threshold is None else threshold
    kw = dict(band_kwargs or {})
    unknown = set(kw) - {"n_bands", "rows_per_band"}
    if unknown:
        raise ValueError(f"unknown band_kwargs: {sorted(unknown)}")
    nb, rows = _resolve_banding(
        kw.get("n_bands"), kw.get("rows_per_band"), threshold, None
    )
    # Store-layout parameters are baked into the accumulated stores: the
    # partition IN-filters are computed with store_buckets as the modulus
    # against partitions WRITTEN with it, and the band geometry determines
    # which (band, bucket) keys ever collide. Re-invoking with different
    # values against an existing store would silently drop cross-batch pairs
    # — so the RESOLVED values are persisted in a marker on first run and
    # validated ever after (a threshold change that re-derives a different
    # geometry trips the same guard). "modality"/"trained_planes" are the
    # fixed values earlier versions also wrote, so their stores still match.
    _check_store_meta(
        out_dir,
        {
            "modality": "text",
            "store_buckets": store_buckets,
            "banding": {"n_bands": nb, "rows_per_band": rows},
            "trained_planes": False,
        },
    )
    bands_store = os.path.join(out_dir, "bands_store")
    payload_store = os.path.join(out_dir, "payload_store")
    pairs_out = os.path.join(out_dir, "pairs")
    # snapshot-diff consistency gate (r4 #7): a store with committed epochs
    # this checkpoint cannot explain, lost pair outputs, or unsnapshotted
    # store epochs below the lineage head fails HERE, before any batch runs
    verify_store_lineage(out_dir, checkpoint_dir)

    stream = spark.readStream.schema(DOCS_SCHEMA).parquet(input_path)

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df = batch_df.dropDuplicates(["doc_id"]).persist()
        new_pay = _text_prepare(batch_df)
        new_bands = _text_bands(batch_df, nb, rows).persist()
        cached = [batch_df, new_bands]

        # within-batch pairs: the batch helper verbatim (bucketed self-join,
        # ordered doc_a < doc_b, probe repartition + cap/salt knobs)
        within = _lsh_candidate_pairs(new_bands, max_bucket_size, salt)
        pairs = _verify(within, new_pay, new_pay, threshold)

        # cross-batch pairs: new items vs the accumulated store. 'Store
        # absent' is a filesystem probe on BOTH stores, NOT a caught read
        # error — a corrupt store must fail the epoch (and be retried) rather
        # than silently dropping every cross-batch pair; and a crash between
        # the two store writes below must leave the retry on the
        # within-batch-only path, not wedge it on a half-written store pair.
        if os.path.isdir(bands_store) and os.path.isdir(payload_store):
            # prune the store read to the sbuckets this batch touches:
            # <= store_buckets ints collected driver-side, pushed down as a
            # partition IN-filter => file-level pruning, store-size-independent
            touched = [
                r[0]
                for r in new_bands.select(_sbucket(store_buckets).alias("sb"))
                .distinct()
                .collect()
            ]
            old_bands = (
                spark.read.parquet(bands_store)
                .filter(F.col("sbucket").isin(touched))
                # a retried epoch must not see its own partial state
                .filter(F.col("epoch_id") < epoch_id)
                .select("doc_id", "band", "bucket")
            )
            cross = _cross_candidates(
                old_bands, new_bands, max_bucket_size, salt
            ).persist()
            cached.append(cross)
            # prune the payload read to the candidate pairs' pbuckets; the
            # keep-latest window is exact within a pbucket because all epochs
            # of one doc_id hash to the same pbucket
            cand_pb = [
                r[0]
                for r in cross.select(_pbucket("doc_a", store_buckets).alias("pb"))
                .distinct()
                .collect()
            ]
            latest = Window.partitionBy("doc_id")
            old_pay = (
                spark.read.parquet(payload_store)
                .filter(F.col("pbucket").isin(cand_pb))
                .filter(F.col("epoch_id") < epoch_id)
                # keep-latest payload per doc: a re-ingested doc's similarity
                # must be computed on its newest content
                .withColumn("_mx", F.max("epoch_id").over(latest))
                .filter(F.col("epoch_id") == F.col("_mx"))
                .select("doc_id", "payload")
            )
            pairs = pairs.unionByName(
                _verify(cross, old_pay, new_pay, threshold)
            )

        # one row per unordered pair: a doc re-ingested alongside its twin
        # can surface the same pair from both the within-batch and
        # cross-batch branches, and stale bands can duplicate candidates.
        # Deterministic keep: the max (similarity, doc_a, doc_b) struct —
        # when content changed between epochs, the branch that saw the
        # higher similarity wins (ties broken lexically, never arbitrarily).
        pairs = (
            pairs.groupBy(
                F.least("doc_a", "doc_b").alias("_lo"),
                F.greatest("doc_a", "doc_b").alias("_hi"),
            )
            .agg(F.max(F.struct("similarity", "doc_a", "doc_b")).alias("_s"))
            .select(
                F.col("_s.doc_a").alias("doc_a"),
                F.col("_s.doc_b").alias("doc_b"),
                F.col("_s.similarity").alias("similarity"),
            )
        )

        pairs.write.mode("overwrite").parquet(f"{pairs_out}/epoch_id={epoch_id}")
        # epoch-keyed state appends: overwrite-own-epoch => idempotent retry.
        # payload BEFORE bands: the cross-batch gate above requires both, so
        # whichever single store a crash leaves behind, the retry is safe.
        # repartition ON the bucket column before the partitioned write: one
        # file per bucket per epoch instead of one per (task, bucket) —
        # without it the store accumulates shuffle_partitions x buckets files
        # per epoch and the per-epoch listing/footer cost grows with store
        # AGE even when pruning keeps the scanned bytes flat (measured: +35%
        # epoch wall by epoch 9 at 4k docs/epoch, from file count alone).
        new_pay.withColumn("pbucket", _pbucket("doc_id", store_buckets)).repartition(
            store_buckets, F.col("pbucket")
        ).write.partitionBy("pbucket").mode("overwrite").parquet(
            f"{payload_store}/epoch_id={epoch_id}"
        )
        new_bands.withColumn("sbucket", _sbucket(store_buckets)).repartition(
            store_buckets, F.col("sbucket")
        ).write.partitionBy("sbucket").mode("overwrite").parquet(
            f"{bands_store}/epoch_id={epoch_id}"
        )
        # lineage LAST: the snapshot record asserts both stores + pairs for
        # this epoch are fully on disk (batch_df is persisted; the count is
        # a cached-scan metadata pass)
        _append_store_snapshot(out_dir, epoch_id, batch_df.count())
        for df in cached:
            df.unpersist()

    writer = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()
