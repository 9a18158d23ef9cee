"""spark-submit entrypoint (north rule: `spark-submit --py-files pkg.zip cli.py ...`).

Subcommands mirror the engine API (SURVEY.md §7.1):

  synth       generate a deterministic clips table (+ refs) as parquet;
              writes a `_synth_config.json` sidecar so later --synth-oracle
              runs reconstruct the SAME oracle the table was built with
  profile     per-partition column stats -> parquet
  validate    full constraint run -> verdicts/violations parquet (+ manifest)
  incremental resume: validate only partitions missing from the manifest;
              each run writes verdicts/ and violations/ under run_id=<id>
  stream-validate  continuous validation of newly-arrived clip files
              (readStream + foreachBatch over the validate engine)
  features    per-clip audio curation features + keep/drop filter
  dedup-apply cluster accumulated near-dup pairs (connected components,
              star contraction) and write clusters/ + the deduplicated
              survivors/ corpus, from a pairs root (epoch_id=N dirs of
              doc_a, doc_b) or any batch pair table
  cluster-update  incrementally fold NEW pairs epochs into persisted
              cluster labels (star forest reused as state — per-update cost
              tracks new-pair volume, not accumulated-pair volume)
  report      assemble the JSON report document from a verdicts table (S10)
  export-csv  CSV export of any parquet table (S9, view_data.py:163-177)
  upsert      keyed MERGE of a parquet batch into a target table (S7)

On a real cluster: `spark-submit --py-files rtad_spark.zip -m cli ...` — the
session builder is skipped when a SparkSession already exists (spark-submit
provides one); locally it builds `local[N]`.

Packaging: `python -m real_time_anomaly_detection_spark.cli package` writes
`.cache/rtad_spark.zip` with the package tree for --py-files.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import uuid
import zipfile

from pyspark.sql import SparkSession

SYNTH_SIDECAR = "_synth_config.json"  # `_` prefix: parquet readers skip it


def _spark(args) -> SparkSession:
    active = SparkSession.getActiveSession()
    if active is not None:
        return active
    from .session import get_spark

    return get_spark("rtad-cli", cores=args.cores or None)


def _add_common(p):
    p.add_argument("--cores", type=int, default=0)


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(prog="rtad-spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    p = sub.add_parser("synth")
    _add_common(p)
    p.add_argument("--n-clips", type=int, default=10000)
    p.add_argument("--clips-per-partition", type=int, default=1000)
    p.add_argument("--golden", action="store_true", help="plant the golden violation knobs")
    p.add_argument("--out", required=True)

    p = sub.add_parser("profile")
    _add_common(p)
    p.add_argument("--input", required=True)
    p.add_argument("--out", required=True)

    def _add_synth_oracle(p):
        # the audio family needs a reference-PCM lookup; for tables produced
        # by the `synth` subcommand the deterministic synthesizer IS that
        # oracle. The generation params are read back from the table's
        # `_synth_config.json` sidecar (written by `synth`) so the oracle
        # always matches the data; explicit flags are the fallback for
        # sidecar-less tables and emit a warning (a mismatched oracle fails
        # every clip with no hint the oracle, not the data, is wrong).
        p.add_argument("--synth-oracle", action="store_true",
                       help="enable audio checks using the synth oracle")
        p.add_argument("--content-dedup", action="store_true",
                       help="also detect identical audio payloads under "
                            "different clip_ids (second bytes scan, "
                            "digest-only shuffle)")
        p.add_argument("--label-consistency", action="store_true",
                       help="also flag content-duplicate clips whose "
                            "transcripts disagree after normalization "
                            "(shares the content-dedup digest pass)")
        p.add_argument("--speaking-rate", action="store_true",
                       help="also flag clips whose transcript-chars-per-"
                            "second is physiologically impossible or a "
                            "robust outlier within its codec group "
                            "(wrong-pairing / truncation detector; "
                            "metadata-only, no extra bytes scan)")
        p.add_argument("--metadata-integrity", action="store_true",
                       help="also check payload byte count against what "
                            "(sr_hz, dur_ms, codec) promise — truncated/"
                            "padded/misaligned payloads, reference-free; "
                            "rides the audio family's payload scan when "
                            "both are on")
        p.add_argument("--min-cps", type=float, default=None,
                       help="speaking-rate lower bound (chars/sec)")
        p.add_argument("--max-cps", type=float, default=None,
                       help="speaking-rate upper bound (chars/sec)")
        p.add_argument("--n-clips", type=int, default=10000)
        p.add_argument("--clips-per-partition", type=int, default=1000)
        p.add_argument("--golden", action="store_true")

    p = sub.add_parser("validate")
    _add_common(p)
    p.add_argument("--input", required=True)
    p.add_argument("--refs")
    p.add_argument("--baseline", help="parquet dir of a clean reference table for drift")
    p.add_argument("--manifest")
    p.add_argument("--out", required=True)
    p.add_argument("--run-id")
    _add_synth_oracle(p)

    p = sub.add_parser("incremental")
    _add_common(p)
    p.add_argument("--input", required=True)
    p.add_argument("--refs")
    p.add_argument("--baseline")
    p.add_argument("--manifest", required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--run-id")
    _add_synth_oracle(p)

    p = sub.add_parser("stream-validate")
    _add_common(p)
    p.add_argument("--input", required=True, help="parquet dir watched as a stream")
    p.add_argument("--checkpoint", required=True)
    p.add_argument("--out", required=True,
                   help="output root: verdicts/ and violations/ epoch dirs")
    p.add_argument("--refs")
    p.add_argument("--baseline", help="parquet dir of a clean reference table for drift")
    p.add_argument("--continuous", action="store_true",
                   help="keep running on a processing-time trigger; default "
                        "drains available input and exits")
    p.add_argument("--trigger", default="600 seconds")
    p.add_argument("--max-files-per-trigger", type=int)
    p.add_argument("--manifest", help="append per-epoch verdict lineage here")
    _add_synth_oracle(p)

    p = sub.add_parser("stream-curate")
    _add_common(p)
    p.add_argument("--input", required=True, help="parquet dir watched as a stream")
    p.add_argument("--checkpoint", required=True)
    p.add_argument("--out", required=True,
                   help="curated-corpus root: one epoch_id=N partition dir "
                        "per micro-batch (fused trim+resample+normalize)")
    p.add_argument("--no-trim", action="store_true")
    p.add_argument("--no-resample", action="store_true")
    p.add_argument("--no-normalize", action="store_true")
    p.add_argument("--target-sr", type=int, default=16000)
    p.add_argument("--target-rms-db", type=float, default=-20.0)
    p.add_argument("--continuous", action="store_true",
                   help="keep running on a processing-time trigger; default "
                        "drains available input and exits")
    p.add_argument("--trigger", default="600 seconds")
    p.add_argument("--max-files-per-trigger", type=int)

    p = sub.add_parser("stream-detect")
    _add_common(p)
    p.add_argument("--input", required=True, help="parquet dir watched as a stream")
    p.add_argument("--checkpoint", required=True)
    p.add_argument("--out", required=True, help="anomaly-records parquet sink")
    p.add_argument("--key-col", default="key")
    p.add_argument("--ts-col", default="ts")
    p.add_argument("--value-col", default="value")
    p.add_argument("--threshold", type=float, default=3.0)
    p.add_argument("--min-points", type=int, default=10)
    p.add_argument("--continuous", action="store_true",
                   help="keep running on a processing-time trigger (the "
                        "reference collector's 600s loop); default drains "
                        "available input and exits")
    p.add_argument("--trigger", default="600 seconds")

    p = sub.add_parser("features")
    _add_common(p)
    p.add_argument("--input", required=True, help="clips parquet dir")
    p.add_argument("--out", required=True,
                   help="output root: features/ and filter/ parquet dirs")
    p.add_argument("--min-rms-db", type=float, default=-50.0)
    p.add_argument("--max-clipping-ratio", type=float, default=0.01)
    p.add_argument("--max-silence-ratio", type=float, default=0.9)
    p.add_argument("--drift-baseline", default=None,
                   help="features/ parquet of a reference run: also write "
                        "drift/ verdicts of the feature distributions "
                        "against it (capture-chain regression check)")

    p = sub.add_parser("segment")
    _add_common(p)
    p.add_argument("--input", required=True, help="clips parquet dir")
    p.add_argument("--out", required=True,
                   help="output root: segments/ (+ audio/ with --materialize)")
    p.add_argument("--window-ms", type=int, default=30_000)
    p.add_argument("--hop-ms", type=int, default=None,
                   help="window start stride (default: window-ms, no overlap)")
    p.add_argument("--min-tail-ms", type=int, default=2_000)
    p.add_argument("--materialize", action="store_true",
                   help="also decode and write the window payloads (pcm16)")

    p = sub.add_parser("pack-batches")
    _add_common(p)
    p.add_argument("--input", required=True, help="clips parquet dir")
    p.add_argument("--out", required=True,
                   help="output root: assignments/ and batch_stats/")
    p.add_argument("--budget-s", type=float, default=60.0,
                   help="audio seconds per training batch")
    p.add_argument("--n-shards", type=int, default=8,
                   help="independent packing streams (parallelism unit)")

    p = sub.add_parser("audio-neardup")
    _add_common(p)
    p.add_argument("--input", required=True, help="clips parquet dir")
    p.add_argument("--out", required=True,
                   help="output root: fingerprints/, pairs/, clusters/")
    p.add_argument("--max-hamming", type=int, default=7,
                   help="pair threshold out of 128 bits (banded join is "
                        "recall-exact up to 7)")
    p.add_argument("--bucket-cap", type=int, default=5000,
                   help="drop (band,value) buckets larger than this; "
                        "<=0 disables the cap")
    p.add_argument("--transcript-conflicts", action="store_true",
                   help="also write transcript_conflicts/: near-dup pairs "
                        "whose transcripts' token Jaccard falls below "
                        "--jaccard-floor (mislabel audit)")
    p.add_argument("--jaccard-floor", type=float, default=0.8)

    p = sub.add_parser("audio-containment")
    _add_common(p)
    p.add_argument("--input", required=True, help="clips parquet dir")
    p.add_argument("--out", required=True,
                   help="output root: frame_fps/ and containments/")
    p.add_argument("--min-coverage", type=float, default=0.6,
                   help="fraction of inner frames that must align at one "
                        "offset")
    p.add_argument("--max-hamming", type=int, default=6,
                   help="per-frame fp bit-error tolerance out of 32")
    p.add_argument("--value-cap", type=int, default=2000,
                   help="drop (band,value) frame buckets larger than this; "
                        "<=0 disables the cap")

    p = sub.add_parser("partition-overlap")
    _add_common(p)
    p.add_argument("--input", required=True, help="clips parquet dir")
    p.add_argument("--out", required=True,
                   help="output root: signatures/ and overlap/")
    p.add_argument("--n-hashes", type=int, default=16,
                   help="MinHash lanes per partition signature")
    p.add_argument("--min-est", type=float, default=0.0,
                   help="emit only pairs with est_jaccard >= this floor "
                        "(keeps the O(P^2) table triage-sized)")

    p = sub.add_parser("curate")
    _add_common(p)
    p.add_argument("--input", required=True,
                   help="documents corpus: a directory containing "
                        "documents.parquet (query-suite layout) or a "
                        "parquet path")
    p.add_argument("--out", required=True,
                   help="output root: curated/ (survivors, text redacted) "
                        "+ report/ (one-row audit)")
    p.add_argument("--min-tokens", type=int, default=None,
                   help="heuristic gate: minimum whitespace tokens")
    p.add_argument("--top2-max", type=float, default=None,
                   help="repetition gate: max top-2-gram token fraction")
    p.add_argument("--dup2-max", type=float, default=None,
                   help="repetition gate: max duplicate-2-gram occurrence "
                        "fraction")

    p = sub.add_parser("normalize")
    _add_common(p)
    p.add_argument("--input", required=True, help="clips parquet dir")
    p.add_argument("--out", required=True,
                   help="normalized corpus parquet (same schema + gain_db, "
                        "peak_limited)")
    p.add_argument("--target-rms-db", type=float, default=-20.0,
                   help="target loudness (dBFS)")
    p.add_argument("--peak-limit", type=float, default=0.99,
                   help="post-gain |sample| ceiling — the limiter wins over "
                        "the target when they conflict")

    p = sub.add_parser("resample")
    _add_common(p)
    p.add_argument("--input", required=True, help="clips parquet dir")
    p.add_argument("--out", required=True,
                   help="rate-unified corpus parquet (same schema, sr_hz = "
                        "target, + src_sr_hz lineage)")
    p.add_argument("--target-sr", type=int, default=16000,
                   help="target sample rate (Hz); already-at-target clips "
                        "pass through verbatim")

    p = sub.add_parser("trim")
    _add_common(p)
    p.add_argument("--input", required=True, help="clips parquet dir")
    p.add_argument("--out", required=True,
                   help="edge-silence-trimmed corpus parquet (dur_ms "
                        "rewritten to the kept span, + src_dur_ms / "
                        "trimmed_*_ms / all_silent audit columns)")
    p.add_argument("--frame-ms", type=int, default=20,
                   help="silence-detection frame length (ms)")
    p.add_argument("--rel-db", type=float, default=-30.0,
                   help="a frame is silent when its RMS is this many dB "
                        "under the clip's peak frame (negative)")

    p = sub.add_parser("curate-audio")
    _add_common(p)
    p.add_argument("--input", required=True, help="clips parquet dir")
    p.add_argument("--out", required=True,
                   help="curated corpus parquet: trimmed + rate-unified + "
                        "loudness-unified in ONE payload pass (union of the "
                        "three ops' audit columns)")
    p.add_argument("--no-trim", action="store_true",
                   help="skip the edge-silence trim stage")
    p.add_argument("--no-resample", action="store_true",
                   help="skip the sample-rate unification stage")
    p.add_argument("--no-normalize", action="store_true",
                   help="skip the loudness normalization stage")
    p.add_argument("--frame-ms", type=int, default=20)
    p.add_argument("--rel-db", type=float, default=-30.0)
    p.add_argument("--target-sr", type=int, default=16000)
    p.add_argument("--target-rms-db", type=float, default=-20.0)
    p.add_argument("--peak-limit", type=float, default=0.99)

    p = sub.add_parser("augment")
    _add_common(p)
    p.add_argument("--input", required=True, help="clips parquet dir")
    p.add_argument("--out", required=True,
                   help="augmented corpus parquet: one row per (clip, "
                        "variant), clip_id suffixed #<variant>, "
                        "src_clip_id/variant lineage")
    p.add_argument("--speeds", default="0.9,1.1",
                   help="comma-separated speed-perturb factors "
                        "(empty string = none)")
    p.add_argument("--noise-snr-db", type=float, default=None,
                   help="also emit an additive-noise variant at this SNR "
                        "(deterministic per clip)")
    p.add_argument("--drop-original", action="store_true",
                   help="emit only the variants, not the source rows")

    p = sub.add_parser("run-diff")
    _add_common(p)
    p.add_argument("--prev", help="previous run's verdicts parquet dir")
    p.add_argument("--cur", help="current run's verdicts parquet dir")
    p.add_argument("--manifest",
                   help="alternative source: manifest dir (with --run-prev/"
                        "--run-cur; latest append per key wins)")
    p.add_argument("--run-prev", help="manifest run_id of the baseline run")
    p.add_argument("--run-cur", help="manifest run_id of the current run")
    p.add_argument("--out", help="optional output root: diff/ + rollup/")
    p.add_argument("--max-print", type=int, default=50,
                   help="cap on regression lines in the console summary "
                        "(the full diff goes to --out, never the driver)")

    p = sub.add_parser("reshard")
    _add_common(p)
    p.add_argument("--input", required=True,
                   help="curated corpus parquet (documents or clips table)")
    p.add_argument("--out", required=True,
                   help="training-order layout root: out/shard=K/ parquet, "
                        "each shard one file stored in pos order")
    p.add_argument("--id-col", default="doc_id",
                   help="id column the deterministic shuffle hashes "
                        "(clips tables: clip_id)")
    p.add_argument("--n-shards", type=int, default=8,
                   help="output shards — at scale, corpus bytes / target "
                        "shard bytes; also the write parallelism unit")
    p.add_argument("--salt", default="q67",
                   help="hash salt: a different salt is an independent "
                        "reshuffle (epoch re-orders without rewriting ids)")

    p = sub.add_parser("dedup-apply")
    _add_common(p)
    p.add_argument("--pairs", required=True,
                   help="near-dup pairs parquet (doc_a, doc_b) — a "
                        "pairs root of epoch_id=N dirs (all epochs read) "
                        "or any batch pair table")
    p.add_argument("--docs", required=True,
                   help="the full documents parquet to deduplicate")
    p.add_argument("--id-col", default="doc_id",
                   help="id column of --docs matching the pair ids "
                        "(clips tables: clip_id)")
    p.add_argument("--out", required=True,
                   help="output root: clusters/ + survivors/")
    p.add_argument("--algorithm", choices=["star", "min_label"],
                   default="star",
                   help="connected-components algorithm (star: rounds "
                        "independent of cluster diameter — the scale-safe "
                        "default)")
    p.add_argument("--max-iters", type=int, default=25)
    p.add_argument("--broadcast", choices=["auto", "always", "never"],
                   default="auto",
                   help="survivor anti-join strategy: auto counts the "
                        "non-keeper set and broadcasts only below "
                        "--broadcast-max-rows; never forces the shuffled "
                        "sort-merge path (right at real 30-80%% dup rates "
                        "where the drop set is corpus-scale)")
    p.add_argument("--broadcast-max-rows", type=int, default=10_000_000,
                   help="auto-mode gate on the non-keeper row count "
                        "(components.BROADCAST_MAX_DROP_ROWS)")

    p = sub.add_parser("cluster-update")
    _add_common(p)
    p.add_argument("--pairs", required=True,
                   help="pairs root: epoch_id=N dirs of (doc_a, doc_b)")
    p.add_argument("--out", required=True,
                   help="clusters root: clusters_store/ + clusters_head.json")
    p.add_argument("--max-iters", type=int, default=25)
    p.add_argument("--retain-snapshots", type=int,
                   help="keep only the newest K full label snapshots after "
                        "the head commits (default: keep all; each snapshot "
                        "is O(corpus) — prune in production)")

    p = sub.add_parser("report")
    _add_common(p)
    p.add_argument("--verdicts", required=True, help="verdicts parquet dir")
    p.add_argument("--out", required=True, help="report JSON file path")
    p.add_argument("--run-id")

    p = sub.add_parser("export-csv")
    _add_common(p)
    p.add_argument("--input", required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--single-file", action="store_true")

    p = sub.add_parser("upsert")
    _add_common(p)
    p.add_argument("--input", required=True, help="incoming batch parquet")
    p.add_argument("--target", required=True, help="target parquet dir (created if absent)")
    p.add_argument("--keys", required=True, help="comma-separated key columns")
    p.add_argument("--ts-col", help="recency column (newest wins; ties -> incoming)")

    p = sub.add_parser("package")
    p.add_argument("--out", default=".cache/rtad_spark.zip")

    args = ap.parse_args(argv)

    if args.cmd == "package":
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        pkg = os.path.join(root, "real_time_anomaly_detection_spark")
        os.makedirs(os.path.dirname(os.path.join(root, args.out)) or ".", exist_ok=True)
        out = os.path.join(root, args.out)
        with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as z:
            for dirpath, _dirs, files in os.walk(pkg):
                if "__pycache__" in dirpath:
                    continue
                for f in files:
                    full = os.path.join(dirpath, f)
                    z.write(full, os.path.relpath(full, root))
        print(out)
        return

    spark = _spark(args)

    if args.cmd == "stream-detect":
        from .streaming import stateful

        stream = spark.readStream.schema(
            f"{args.key_col} string, {args.ts_col} timestamp, {args.value_col} double"
        ).parquet(args.input)
        out = stateful.running_anomalies(
            stream,
            key_col=args.key_col,
            ts_col=args.ts_col,
            value_col=args.value_col,
            threshold=args.threshold,
            min_points=args.min_points,
        )
        writer = (
            out.writeStream.outputMode("append")
            .format("parquet")
            .option("path", args.out)
            .option("checkpointLocation", args.checkpoint)
        )
        if args.continuous:
            q = writer.trigger(processingTime=args.trigger).start()
            q.awaitTermination()
        else:
            q = writer.trigger(availableNow=True).start()
            q.awaitTermination()
        print(args.out)
        return

    if args.cmd == "curate":
        from .operators.curation import curate_corpus

        cand = os.path.join(args.input, "documents.parquet")
        docs = spark.read.parquet(cand if os.path.exists(cand) else args.input)
        curated, report = curate_corpus(
            docs, top2_max=args.top2_max, dup2_max=args.dup2_max,
            min_tokens=args.min_tokens,
        )
        curated.write.mode("overwrite").parquet(os.path.join(args.out, "curated"))
        report.write.mode("overwrite").parquet(os.path.join(args.out, "report"))
        print(args.out)
        return

    if args.cmd == "dedup-apply":
        from pyspark.sql import functions as F

        from .operators.components import connected_components, drop_non_keepers

        pairs = spark.read.parquet(args.pairs).select("doc_a", "doc_b")
        labels = connected_components(
            pairs, max_iters=args.max_iters, algorithm=args.algorithm
        )
        clusters = labels.select(
            "doc_id",
            F.col("label").alias("cluster_id"),
            (F.col("doc_id") == F.col("label")).alias("is_keeper"),
        )
        clusters.write.mode("overwrite").parquet(os.path.join(args.out, "clusters"))
        clusters = spark.read.parquet(os.path.join(args.out, "clusters"))
        drop = clusters.filter(~F.col("is_keeper")).select("doc_id")
        docs = spark.read.parquet(args.docs)
        if args.id_col != "doc_id":
            docs = docs.withColumnRenamed(args.id_col, "doc_id")
        # survivor anti-join strategy gated on drop-set size: broadcast
        # (map-side probe, corpus unshuffled) only when the non-keeper set
        # is small; shuffled sort-merge otherwise — at real 30-80% dup
        # rates the drop set is corpus-scale and a broadcast would OOM
        bcast = {"auto": None, "always": True, "never": False}[args.broadcast]
        survivors = drop_non_keepers(
            docs, drop, broadcast=bcast,
            broadcast_max_rows=args.broadcast_max_rows,
        )
        if args.id_col != "doc_id":
            survivors = survivors.withColumnRenamed("doc_id", args.id_col)
        survivors.write.mode("overwrite").parquet(
            os.path.join(args.out, "survivors"))
        print(args.out)
        return

    if args.cmd == "cluster-update":
        from .streaming.clusters import update_clusters

        print(json.dumps(
            update_clusters(spark, args.pairs, args.out,
                            max_iters=args.max_iters,
                            retain_snapshots=args.retain_snapshots)
        ))
        return

    if args.cmd == "partition-overlap":
        from .operators import partition_overlap as PO

        clips = spark.read.parquet(args.input)
        PO.partition_signatures(clips, n_hashes=args.n_hashes).write.mode(
            "overwrite").parquet(os.path.join(args.out, "signatures"))
        # derive the overlap matrix from the relation just written — the
        # payload column is scanned exactly once (r6 ADVICE #4)
        ov = PO.partition_overlap(
            clips, n_hashes=args.n_hashes, min_est=args.min_est,
            sig=spark.read.parquet(os.path.join(args.out, "signatures")),
        )
        ov.write.mode("overwrite").parquet(os.path.join(args.out, "overlap"))
        n = spark.read.parquet(os.path.join(args.out, "overlap")).count()
        print(json.dumps({"pairs": n, "n_hashes": args.n_hashes,
                          "min_est": args.min_est}))
        return

    if args.cmd == "audio-neardup":
        from pyspark.sql import functions as F

        from .operators import audio_fingerprint as AFP
        from .operators.components import connected_components

        clips = spark.read.parquet(args.input)
        fps = AFP.fingerprints(clips)
        fps.write.mode("overwrite").parquet(
            os.path.join(args.out, "fingerprints")
        )
        fps = spark.read.parquet(os.path.join(args.out, "fingerprints"))
        cap = args.bucket_cap if args.bucket_cap > 0 else None
        pairs = AFP.neardup_pairs(fps, max_hamming=args.max_hamming,
                                  bucket_cap=cap)
        pairs.write.mode("overwrite").parquet(os.path.join(args.out, "pairs"))
        # the persisted fingerprint relation's consumers are all materialized
        from .caching import release_cached

        release_cached()
        pairs = spark.read.parquet(os.path.join(args.out, "pairs"))
        if args.transcript_conflicts:
            from .operators.label_consistency import neardup_transcript_conflicts

            neardup_transcript_conflicts(
                clips, pairs, jaccard_floor=args.jaccard_floor
            ).write.mode("overwrite").parquet(
                os.path.join(args.out, "transcript_conflicts")
            )
        labels = connected_components(pairs.select("clip_a", "clip_b"))
        labels.select(
            F.col("doc_id").alias("clip_id"),
            F.col("label").alias("cluster_id"),
            (F.col("doc_id") == F.col("label")).alias("is_keeper"),
        ).write.mode("overwrite").parquet(os.path.join(args.out, "clusters"))
        print(args.out)
        return

    if args.cmd == "audio-containment":
        from .operators import audio_containment as ACT

        clips = spark.read.parquet(args.input)
        fps = ACT.frame_fingerprints(clips)
        fps.write.mode("overwrite").parquet(os.path.join(args.out, "frame_fps"))
        fps = spark.read.parquet(os.path.join(args.out, "frame_fps"))
        cap = args.value_cap if args.value_cap > 0 else None
        ACT.containment_pairs(
            fps, min_coverage=args.min_coverage,
            max_hamming=args.max_hamming, value_cap=cap,
        ).write.mode("overwrite").parquet(
            os.path.join(args.out, "containments")
        )
        from .caching import release_cached

        release_cached()  # the persisted seeds relation is fully consumed
        pairs = spark.read.parquet(os.path.join(args.out, "containments"))
        # terminal mapping: each contained clip -> the TOP of its chain
        ACT.containment_canonical(pairs).write.mode("overwrite").parquet(
            os.path.join(args.out, "canonical")
        )
        print(args.out)
        return

    if args.cmd == "normalize":
        from .operators import audio_normalize as AN

        AN.normalize_gain(
            spark.read.parquet(args.input),
            target_rms_db=args.target_rms_db,
            peak_limit=args.peak_limit,
        ).write.mode("overwrite").parquet(args.out)
        print(args.out)
        return

    if args.cmd == "resample":
        from .operators import audio_resample as AR

        AR.resample_clips(
            spark.read.parquet(args.input), target_sr=args.target_sr
        ).write.mode("overwrite").parquet(args.out)
        print(args.out)
        return

    if args.cmd == "trim":
        from .operators import audio_trim as AT

        AT.trim_silence(
            spark.read.parquet(args.input),
            frame_ms=args.frame_ms,
            rel_db=args.rel_db,
        ).write.mode("overwrite").parquet(args.out)
        print(args.out)
        return

    if args.cmd == "curate-audio":
        from .operators import audio_pipeline as AP

        AP.curate_clips(
            spark.read.parquet(args.input),
            trim=not args.no_trim,
            frame_ms=args.frame_ms,
            rel_db=args.rel_db,
            do_resample=not args.no_resample,
            target_sr=args.target_sr,
            normalize=not args.no_normalize,
            target_rms_db=args.target_rms_db,
            peak_limit=args.peak_limit,
        ).write.mode("overwrite").parquet(args.out)
        print(args.out)
        return

    if args.cmd == "augment":
        from .operators import audio_augment as AA

        speeds = tuple(float(s) for s in args.speeds.split(",") if s)
        AA.augment_clips(
            spark.read.parquet(args.input),
            speeds=speeds,
            noise_snr_db=args.noise_snr_db,
            keep_original=not args.drop_original,
        ).write.mode("overwrite").parquet(args.out)
        print(args.out)
        return

    if args.cmd == "stream-curate":
        from .streaming import incremental

        q = incremental.stream_curate(
            spark,
            args.input,
            args.checkpoint,
            args.out,
            curate_kwargs=dict(
                trim=not args.no_trim,
                do_resample=not args.no_resample,
                target_sr=args.target_sr,
                normalize=not args.no_normalize,
                target_rms_db=args.target_rms_db,
            ),
            available_now=not args.continuous,
            processing_time=args.trigger,
            max_files_per_trigger=args.max_files_per_trigger,
        )
        q.awaitTermination()
        print(args.out)
        return

    if args.cmd == "run-diff":
        from pyspark.sql import functions as F

        from . import manifest as MF
        from . import report as RP

        if args.manifest:
            if not (args.run_prev and args.run_cur):
                raise SystemExit("--manifest needs --run-prev and --run-cur")
            m = MF.read_manifest(spark, args.manifest)
            prev = MF.run_verdicts(m, args.run_prev)
            cur = MF.run_verdicts(m, args.run_cur)
        elif args.prev and args.cur:
            prev = spark.read.parquet(args.prev)
            cur = spark.read.parquet(args.cur)
        else:
            raise SystemExit("need --prev/--cur or --manifest + run ids")
        diff = RP.run_diff(prev, cur)
        if args.out:
            diff.write.mode("overwrite").parquet(os.path.join(args.out, "diff"))
            diff = spark.read.parquet(os.path.join(args.out, "diff"))
            RP.run_diff_rollup(diff).write.mode("overwrite").parquet(
                os.path.join(args.out, "rollup")
            )
        # driver sees only the tiny rollup + a capped regression sample —
        # the full diff stays distributed (written above, never collected)
        rollup_rows = RP.run_diff_rollup(diff).collect()
        reg = (
            diff.filter(F.col("transition") == "regressed")
            .limit(args.max_print)
            .collect()
        )
        print(RP.diff_text_summary(reg, rollup_rows))
        if args.out:
            print(args.out)
        return

    if args.cmd == "reshard":
        from .operators import reshard as RS

        RS.write_shards(
            spark.read.parquet(args.input), args.out, id_col=args.id_col,
            n_shards=args.n_shards, salt=args.salt,
        )
        print(args.out)
        return

    if args.cmd == "pack-batches":
        from .operators import audio_packing as AP

        clips = spark.read.parquet(args.input)
        asg = AP.pack_batches(clips, budget_s=args.budget_s,
                              n_shards=args.n_shards)
        asg.write.mode("overwrite").parquet(
            os.path.join(args.out, "assignments")
        )
        AP.batch_stats(
            spark.read.parquet(os.path.join(args.out, "assignments")),
            budget_s=args.budget_s,
        ).write.mode("overwrite").parquet(
            os.path.join(args.out, "batch_stats")
        )
        print(args.out)
        return

    if args.cmd == "features":
        from .operators import audio_features as AF

        clips = spark.read.parquet(args.input)
        feats = AF.extract_features(clips)
        feats.write.mode("overwrite").parquet(os.path.join(args.out, "features"))
        AF.quality_filter(
            spark.read.parquet(os.path.join(args.out, "features")),
            min_rms_db=args.min_rms_db,
            max_clipping_ratio=args.max_clipping_ratio,
            max_silence_ratio=args.max_silence_ratio,
        ).write.mode("overwrite").parquet(os.path.join(args.out, "filter"))
        if args.drift_baseline:
            AF.feature_drift(
                spark.read.parquet(os.path.join(args.out, "features")),
                spark.read.parquet(args.drift_baseline),
            ).write.mode("overwrite").parquet(os.path.join(args.out, "drift"))
        print(args.out)
        return

    if args.cmd == "segment":
        from .operators import audio_segmentation as ASEG

        clips = spark.read.parquet(args.input)
        hop = args.hop_ms if args.hop_ms is not None else args.window_ms
        ASEG.segment_plan(
            clips, window_ms=args.window_ms, hop_ms=hop,
            min_tail_ms=args.min_tail_ms,
        ).write.mode("overwrite").parquet(os.path.join(args.out, "segments"))
        if args.materialize:
            ASEG.segment_pcm(
                clips, window_ms=args.window_ms, hop_ms=hop,
                min_tail_ms=args.min_tail_ms,
            ).write.mode("overwrite").parquet(os.path.join(args.out, "audio"))
        print(args.out)
        return

    if args.cmd == "report":
        from . import report

        verdicts = spark.read.parquet(args.verdicts)
        doc = report.write_report(verdicts, args.out, run_id=args.run_id)
        print(report.text_summary(doc))
        print(args.out)
        return

    if args.cmd == "export-csv":
        from . import sinks

        df = spark.read.parquet(args.input)
        sinks.export_csv(df.coalesce(1) if args.single_file else df, args.out)
        print(args.out)
        return

    if args.cmd == "upsert":
        from . import sinks

        sinks.upsert_parquet(
            spark,
            spark.read.parquet(args.input),
            args.target,
            [k.strip() for k in args.keys.split(",")],
            args.ts_col,
        )
        print(args.target)
        return

    if args.cmd == "synth":
        from . import synth

        if args.golden:
            cfg = synth.golden_config(args.n_clips, args.clips_per_partition)
        else:
            cfg = synth.clean_config(args.n_clips, args.clips_per_partition)
        synth.clips_df(spark, cfg).write.mode("overwrite").parquet(args.out)
        synth.transcripts_ref_df(spark, cfg).write.mode("overwrite").parquet(args.out + "_refs")
        with open(os.path.join(args.out, SYNTH_SIDECAR), "w") as f:
            json.dump(
                {
                    "n_clips": args.n_clips,
                    "clips_per_partition": args.clips_per_partition,
                    "golden": bool(args.golden),
                },
                f,
            )
        print(args.out)
        return

    if args.cmd == "profile":
        from . import engine

        clips = spark.read.parquet(args.input)
        engine.profile(clips).write.mode("overwrite").parquet(args.out)
        print(args.out)
        return

    from . import engine
    from .operators import drift

    refs = spark.read.parquet(args.refs) if args.refs else None
    baseline_rows = (
        drift.make_baseline(spark.read.parquet(args.baseline)) if args.baseline else None
    )
    vcfg = engine.ValidationConfig()
    # opt-in families: each --<check-name> flag adds its family
    extra_checks = [fam.check for fam in engine.FAMILIES
                    if fam.check not in vcfg.checks and getattr(args, fam.check, False)]
    cps_kw = {}
    if getattr(args, "min_cps", None) is not None:
        cps_kw["min_cps"] = args.min_cps
    if getattr(args, "max_cps", None) is not None:
        cps_kw["max_cps"] = args.max_cps
    if extra_checks or cps_kw:
        vcfg = engine.ValidationConfig(checks=(*vcfg.checks, *extra_checks), **cps_kw)
    ref_pcm_fn = None
    if getattr(args, "synth_oracle", False):
        from . import synth

        n_clips, cpp, golden = args.n_clips, args.clips_per_partition, args.golden
        sidecar = os.path.join(args.input, SYNTH_SIDECAR)
        if os.path.isfile(sidecar):
            with open(sidecar) as f:
                sc = json.load(f)
            n_clips, cpp, golden = sc["n_clips"], sc["clips_per_partition"], sc["golden"]
        else:
            print(
                f"warning: no {SYNTH_SIDECAR} under --input; reconstructing the "
                "PCM oracle from --n-clips/--clips-per-partition/--golden flags — "
                "if these differ from the table's synth params every clip will "
                "fail pcm_check",
                file=sys.stderr,
            )
        scfg = synth.golden_config(n_clips, cpp) if golden else synth.clean_config(n_clips, cpp)
        ref_pcm_fn = lambda cid: synth.reference_pcm(scfg, cid)  # noqa: E731

    if args.cmd == "stream-validate":
        from .streaming import incremental

        q = incremental.stream_validate(
            spark,
            args.input,
            args.checkpoint,
            os.path.join(args.out, "verdicts"),
            os.path.join(args.out, "violations"),
            refs=refs,
            baseline_rows=baseline_rows,
            ref_pcm_fn=ref_pcm_fn,
            cfg=vcfg,
            available_now=not args.continuous,
            processing_time=args.trigger,
            max_files_per_trigger=args.max_files_per_trigger,
            manifest_path=args.manifest,
        )
        q.awaitTermination()
        print(args.out)
        return

    clips = spark.read.parquet(args.input)
    run_id = args.run_id or uuid.uuid4().hex[:12]
    kw = dict(
        refs=refs, baseline_rows=baseline_rows, ref_pcm_fn=ref_pcm_fn, run_id=run_id,
        cfg=vcfg,
    )
    if args.cmd == "validate":
        verdicts, violations = engine.validate(
            spark, clips, manifest_path=args.manifest, **kw
        )
        run_dir = []
    else:
        verdicts, violations = engine.incremental_validate(
            spark, clips, args.manifest, **kw
        )
        # each resume overwrites only its own run_id=<id> dir (as
        # stream-validate does per epoch_id), so earlier resumes' rows stay
        run_dir = [f"run_id={run_id}"]
    for name, df in (("verdicts", verdicts), ("violations", violations)):
        df.write.mode("overwrite").parquet(os.path.join(args.out, name, *run_dir))
    engine.release(run_id)  # outputs are materialized — drop the cached plans
    print(args.out)


if __name__ == "__main__":
    main()
