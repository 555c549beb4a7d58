"""One Spark process of a benchmark run (a "leg").

Started by ``run.py`` with a pinned environment and a JSON spec; writes
its measurements to the spec's ``out`` path. A leg starts the session,
warms up on the full input, then runs the workload's operation
``iters`` times in a closed loop with one client, checking every
output. In ``trace`` mode it then repeats the operation layer by layer
through the public operator functions, one span and one Spark job group
per layer call; the Spark event log that only traced legs write is
parsed offline afterwards.

    python3 perfbench/leg.py spec.json
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
from contextlib import contextmanager

import pandas as pd

from common import label_hash, pair_f1, parse_event_log

STAGES = ("serialized", "candidates", "scored", "entities")
THRESHOLD_RESUME = 0.55   # er_store: the partial-resume run's threshold


# -- tracing ------------------------------------------------------------

class Tracer:
    """Spans around layer calls, kept in memory until the leg ends. Each
    span sets its own Spark job group so the event log can attribute
    task metrics to it."""

    def __init__(self, spark, trace_id: str):
        self.sc = spark.sparkContext
        self.trace_id = trace_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        n = len(self.spans) + len(self._stack)
        rec = {"id": f"{self.trace_id}/{name}#{n}", "name": name,
               "trace": self.trace_id,
               "parent": parent["id"] if parent else None,
               "depth": len(self._stack)}
        rec["group"] = f"perfbench/{rec['id']}"
        self.sc.setJobGroup(rec["group"], name)
        self._stack.append(rec)
        rec["t_start"] = time.time()
        m0 = time.monotonic()
        try:
            yield rec
        finally:
            rec["wall_s"] = time.monotonic() - m0
            rec["t_end"] = time.time()
            self._stack.pop()
            if parent:
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append(rec)


# -- pipeline pieces ------------------------------------------------------

def pipeline_config(workload: str, threshold: float | None = None):
    from ditto_spark.plans.pipeline import PipelineConfig

    if workload == "er_model":
        from ditto_spark.operators.npmodel import prod_profile_backend

        # the bench.py "prod" scorer: inference-dominated. Its frozen
        # random weights carry no match signal; the threshold sits at
        # their ~90th score percentile, so about a tenth of the
        # candidates match (sparse decisions, as in production)
        cfg = PipelineConfig(sn_window=2, backend_factory=prod_profile_backend,
                             native_scorer=False, threshold=0.78)
    else:
        cfg = PipelineConfig()
    if threshold is not None:
        cfg.threshold = threshold
    return cfg


def materialize(build):
    """Build a frame and cut it eagerly, releasing the operator caches
    the build registered once it is materialized."""
    from ditto_spark.cachereg import cache_scope

    with cache_scope():
        return build().localCheckpoint(eager=True)


def layer_calls(docs, cfg):
    """The run_pipeline stages as calls into the public operators."""
    from ditto_spark.operators import blocking as B
    from ditto_spark.operators.clustering import assign_entities
    from ditto_spark.operators.knowledge import dk_inject_df
    from ditto_spark.operators.scoring import (score_id_pairs_native,
                                               score_pairs)
    from ditto_spark.operators.serialize import serialize_docs
    from ditto_spark.plans.pipeline import sn_key

    return {
        "serialize": lambda: serialize_docs(docs, drop_empty=True).select(
            "doc_id", "text"),
        "knowledge": lambda ser: dk_inject_df(ser, ["text"]),
        "blocking.minhash": lambda ser: B.minhash_lsh_blocking(
            ser, n_hashes=cfg.minhash_hashes, bands=cfg.minhash_bands,
            shingle_n=cfg.shingle_n, max_bucket_rows=cfg.max_bucket_rows,
            with_texts=False, token_hash=cfg.token_hash, dedup_pairs=False),
        "blocking.sn": lambda ser: B.sorted_neighborhood(
            ser, sn_key(), window=cfg.sn_window, with_texts=False),
        "blocking.union": B.union_candidates,
        "score": lambda cand, ser: (
            score_id_pairs_native(cand, ser, cfg.threshold)
            if cfg.native_scorer else
            score_pairs(B.attach_texts(cand, ser), cfg.threshold,
                        cfg.backend_factory,
                        num_partitions=cfg.score_partitions)),
        "cluster": lambda scored: assign_entities(docs.select("doc_id"),
                                                  scored),
    }


def traced_pipeline(docs, cfg, tr: Tracer) -> dict:
    """Storeless run_pipeline, one span per layer call."""
    b = layer_calls(docs, cfg)
    f = {}
    with tr.span("pipeline"):
        with tr.span("serialize"):
            f["serialized0"] = materialize(b["serialize"])
        with tr.span("knowledge"):
            f["serialized"] = materialize(
                lambda: b["knowledge"](f["serialized0"]))
        with tr.span("blocking.minhash"):
            f["minhash"] = materialize(
                lambda: b["blocking.minhash"](f["serialized"]))
        with tr.span("blocking.sn"):
            f["sn"] = materialize(lambda: b["blocking.sn"](f["serialized"]))
        with tr.span("blocking.union"):
            f["candidates"] = materialize(
                lambda: b["blocking.union"](f["minhash"], f["sn"]))
        with tr.span("score"):
            f["scored"] = materialize(
                lambda: b["score"](f["candidates"], f["serialized"]))
        with tr.span("cluster"):
            f["entities"] = materialize(lambda: b["cluster"](f["scored"]))
    return f


def traced_store_pipeline(spark, docs, cfg, store_dir: str,
                          tr: Tracer) -> dict:
    """run_pipeline through a CheckpointStore, one span per stage write,
    then one span per stage read on a fresh store over the same dir."""
    from ditto_spark.sources.checkpoint import CheckpointStore, fingerprint_of

    b = layer_calls(docs, cfg)
    fps = {s: fingerprint_of("perfbench", s, cfg.threshold) for s in STAGES}
    builds = {
        "serialized": lambda f: b["knowledge"](b["serialize"]()),
        "candidates": lambda f: b["blocking.union"](
            b["blocking.minhash"](f["serialized"]),
            b["blocking.sn"](f["serialized"])),
        "scored": lambda f: b["score"](f["candidates"], f["serialized"]),
        "entities": lambda f: b["cluster"](f["scored"]),
    }
    store = CheckpointStore(spark, store_dir)
    f: dict = {}
    with tr.span("pipeline"):
        for s in STAGES:
            with tr.span(f"checkpoint.{s}.write"):
                f[s] = store.stage(s, fps[s], lambda s=s: builds[s](f))
    reread = CheckpointStore(spark, store_dir)
    with tr.span("resume"):
        for s in STAGES:
            with tr.span(f"checkpoint.{s}.read"):
                reread.stage(s, fps[s], lambda: None).write.format(
                    "noop").mode("overwrite").save()
    f["store"], f["reread"] = store, reread
    return f


def entity_labels(entities) -> dict:
    pdf = entities.select("doc_id", "entity_id").toPandas()
    return dict(zip(pdf["doc_id"], pdf["entity_id"]))


# -- workloads ------------------------------------------------------------

class Leg:
    def __init__(self, spec: dict):
        self.spec = spec
        self.wl = spec["workload"]
        self.work = spec["work"]
        self.truth = None
        self.out: dict = {"iters": [], "checks": []}

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.out["checks"].append({"name": name, "ok": bool(ok),
                                   "detail": detail})

    def truth_map(self) -> dict:
        if self.truth is None:
            t = pd.read_parquet(self.spec["truth"])
            self.truth = dict(zip(t["doc_id"], t["cluster_id"]))
        return self.truth

    def quality(self, labels: dict) -> None:
        """Record the run's label hash and pair F1 (first call wins)."""
        self.out.setdefault("label_hash", label_hash(labels))
        if "pair_f1" not in self.out:
            truth = self.truth_map()
            self.out["pair_f1"] = pair_f1(
                labels, {d: truth[d] for d in labels})
            self.out["max_entity_size"] = max(
                pd.Series(list(labels.values())).value_counts())
            self.out["entities"] = len(set(labels.values()))

    # the timed loop, shared by every workload
    def loop(self, op) -> None:
        self.out["t_first"] = time.monotonic()
        for k in range(self.spec["iters"]):
            rec = {"k": k}
            try:
                op(rec)
            except Exception as exc:  # keep going: a failure is a count
                rec.update(ok=False, error=f"{type(exc).__name__}: {exc}")
            rec.setdefault("ok", True)
            self.out["iters"].append(rec)

    # er_native / er_model
    def pipeline_op(self, docs, cfg):
        from ditto_spark.plans.pipeline import run_pipeline
        from ditto_spark.session import clear_operator_caches

        def op(rec):
            clear_operator_caches(self.spark)
            t = time.monotonic()
            ent = run_pipeline(self.spark, docs, cfg)["entities"]
            rec["wall_s"] = time.monotonic() - t
            labels = entity_labels(ent)
            rec["hash"] = label_hash(labels)
            rec["ok"] = rec["hash"] == self.out["label_hash"]
            rec["latency_s"] = rec["wall_s"]
        return op

    def run_pipeline_workload(self, docs, tracing: bool) -> None:
        from ditto_spark.plans.pipeline import run_pipeline

        cfg = pipeline_config(self.wl)
        t = time.monotonic()
        for _ in range(self.spec["warm_iters"]):
            labels = entity_labels(run_pipeline(self.spark, docs,
                                                cfg)["entities"])
        self.out["warm_s"] = time.monotonic() - t
        self.quality(labels)
        self.loop(self.pipeline_op(docs, cfg))
        if tracing and self.spec["trace_iters"]:
            self.trace_pipeline(docs, cfg, labels)

    # er_store
    def store_run(self, docs, threshold: float, path: str):
        from ditto_spark.plans.pipeline import run_pipeline
        from ditto_spark.session import clear_operator_caches
        from ditto_spark.sources.checkpoint import CheckpointStore

        clear_operator_caches(self.spark)
        store = CheckpointStore(self.spark, path)
        t = time.monotonic()
        ent = run_pipeline(self.spark, docs,
                           pipeline_config(self.wl, threshold), store=store,
                           input_id=self.spec["input_id"])["entities"]
        wall = time.monotonic() - t
        return wall, entity_labels(ent), store

    def run_store_workload(self, docs, tracing: bool) -> None:
        base = pipeline_config(self.wl).threshold
        t = time.monotonic()
        warm_dir = os.path.join(self.work, "store-warm")
        _, cold_b, _ = self.store_run(docs, THRESHOLD_RESUME, warm_dir)
        _, resumed_a, st = self.store_run(docs, base, warm_dir)
        self.check("warm resume recomputes scored+entities",
                   st.recomputed == ["scored", "entities"], str(st.recomputed))
        shutil.rmtree(warm_dir, ignore_errors=True)
        self.out["warm_s"] = time.monotonic() - t
        ref = {"cold": label_hash(resumed_a), "resume": label_hash(cold_b)}
        self.quality(resumed_a)

        def op(rec):
            # cold run at the base threshold, then alternate the threshold
            # twice: each time scored+entities are recomputed and the
            # upstream stages resumed; a full resume must recompute nothing
            path = os.path.join(self.work, f"store-{rec['k']}")
            bad = []

            def expect(name, ok):
                if not ok:
                    bad.append(name)

            try:
                rec["wall_s"], cold, st = self.store_run(docs, base, path)
                expect("cold recomputes every stage",
                       st.recomputed == list(STAGES))
                expect("cold labels", label_hash(cold) == ref["cold"])
                writes, lat = len(st.recomputed), []
                for th, want in ((THRESHOLD_RESUME, ref["resume"]),
                                 (base, label_hash(cold))):
                    wall, part, st = self.store_run(docs, th, path)
                    lat.append(wall)
                    writes += len(st.recomputed)
                    expect(f"resume at {th} recomputes scored+entities",
                           st.recomputed == ["scored", "entities"])
                    expect(f"resumed labels at {th} equal cold labels",
                           label_hash(part) == want)
                rec["stages_recomputed"] = len(st.recomputed)
                _, full, st = self.store_run(docs, base, path)
                expect("full resume recomputes nothing", st.recomputed == [])
                expect("full resume labels", full == cold)
                # one recomputed _metrics row per stage write; one
                # _lineage row per written file (file names never repeat)
                expect("one _metrics row per stage write",
                       st.metrics().filter("recomputed").count() == writes)
                lineage = st.lineage()
                expect("no duplicate _lineage rows",
                       lineage.count()
                       == lineage.select("stage", "file").distinct().count())
                rec["resume_s"] = lat
                rec["hash"] = label_hash(cold)
                rec["ok"] = not bad
                if bad:
                    rec["error"] = "; ".join(bad)
            finally:
                shutil.rmtree(path, ignore_errors=True)

        self.loop(op)
        if tracing:
            self.trace_store(docs)

    # er_stream
    def stream_call(self):
        from ditto_spark.schema import DOC_SCHEMA
        from ditto_spark.streaming.incremental_er import incremental_entities

        stream = (self.spark.readStream.schema(DOC_SCHEMA)
                  .option("maxFilesPerTrigger", 1).parquet(self.spec["src"]))
        t = time.monotonic()
        progress = incremental_entities(
            self.spark, stream, os.path.join(self.work, "wd"),
            os.path.join(self.work, "ck"), compact_every=4,
            n_store_buckets=self.spec["n_buckets"])
        wall = time.monotonic() - t
        batches = [json.loads(p.json) for p in progress]
        return wall, [b for b in batches if b.get("numInputRows", 0) > 0]

    def stage_batches(self, names: list[str]) -> None:
        """Move pre-generated batch files into the stream's source dir,
        with strictly increasing mtimes so the file source keeps order."""
        now = time.time()
        for i, name in enumerate(names):
            dst = os.path.join(self.spec["src"], name)
            shutil.copyfile(os.path.join(self.spec["batches_dir"], name), dst)
            os.utime(dst, (now + i, now + i))

    def stream_labels(self) -> dict:
        from ditto_spark.streaming.incremental_er import read_entity_labels

        return entity_labels(read_entity_labels(
            self.spark, os.path.join(self.work, "wd", "labels")))

    def run_stream_workload(self, tracing: bool) -> None:
        spec = self.spec
        os.makedirs(spec["src"], exist_ok=True)
        t = time.monotonic()
        self.stage_batches(spec["setup_files"])
        _, seeded = self.stream_call()
        self.check("setup batches processed",
                   len(seeded) == len(spec["setup_files"]), str(len(seeded)))
        self.out["warm_s"] = time.monotonic() - t
        groups = [spec["measure_files"]]
        if tracing:
            groups.append(spec["trace_files"])
        for g, files in enumerate(groups):
            self.stage_batches(files)
            tr = Tracer(self.spark, f"{self.wl}-stream") if g else None
            if g == 0:
                self.out["t_first"] = time.monotonic()
                wall, batches = self.stream_call()
            else:
                with tr.span("stream"):
                    wall, batches = self.stream_call()
            ok_n = len(batches) == len(files)
            for b in batches:
                rec = {"k": b["batchId"], "latency_s":
                       b["durationMs"]["triggerExecution"] / 1000.0,
                       "add_batch_s": b["durationMs"].get("addBatch", 0) / 1e3,
                       "rows": b["numInputRows"],
                       "ok": b["numInputRows"] == spec["batch_docs"]}
                (self.out["iters"] if g == 0 else
                 self.out.setdefault("trace_iters", [])).append(rec)
            if not ok_n:
                self.out["iters" if g == 0 else "trace_iters"].append(
                    {"k": -1, "ok": False,
                     "error": f"{len(batches)} of {len(files)} batches ran"})
            if g == 0:
                self.out["stream_wall_s"] = wall
                self.out["stream_docs"] = len(files) * spec["batch_docs"]
            else:
                self.out["trace_stream_wall_s"] = wall
                self.out["spans"] = tr.spans
        labels = self.stream_labels()
        streamed = set(pd.read_parquet(spec["src"], columns=["doc_id"])["doc_id"])
        self.check("every streamed doc labelled once",
                   set(labels) == streamed and len(labels) == len(streamed),
                   f"{len(labels)} labels, {len(streamed)} docs")
        self.quality(labels)
        if tracing:
            self.out["trace"] = {"label_files": sum(
                len(fs) for _, _, fs in os.walk(
                    os.path.join(self.work, "wd", "labels")))}

    # -- traced runs ------------------------------------------------------

    def trace_pipeline(self, docs, cfg, labels: dict) -> None:
        from ditto_spark.operators.blocking import minhash_band_buckets
        from ditto_spark.session import clear_operator_caches
        from pyspark.sql import functions as F

        spans = []
        for k in range(self.spec["trace_iters"]):
            clear_operator_caches(self.spark)
            tr = Tracer(self.spark, f"{self.wl}-it{k}")
            f = traced_pipeline(docs, cfg, tr)
            spans += tr.spans
            self.check(f"traced labels equal untraced (iteration {k})",
                       label_hash(entity_labels(f["entities"]))
                       == label_hash(labels))
        self.out["spans"] = spans
        # counts, outside every span
        ser, cand = f["serialized"], f["candidates"]
        rows_out = ser.count()
        mh = f["minhash"].select("left_id", "right_id").distinct().count()
        sn = f["sn"].select("left_id", "right_id").distinct().count()
        n_cand = cand.count()
        capped = (minhash_band_buckets(
            ser, "doc_id", "text", cfg.minhash_hashes, cfg.minhash_bands,
            cfg.shingle_n, token_hash=cfg.token_hash)
            .groupBy("block_key").count()
            .filter(F.col("count") > cfg.max_bucket_rows).count())
        truth = self.truth_map()
        pairs = cand.select("left_id", "right_id").toPandas()
        hit = sum(truth[a] == truth[b] for a, b in
                  zip(pairs["left_id"], pairs["right_id"]))
        sizes = pd.Series(list(truth.values())).value_counts()
        true_pairs = int((sizes * (sizes - 1) // 2).sum())
        scored = f["scored"]
        n_scored = scored.count()
        n_match = scored.filter(F.col("match") == 1).count()
        self.out["trace"] = {
            "rows_out": rows_out, "minhash_pairs": mh, "sn_pairs": sn,
            "candidates": n_cand, "bucket_cap_hits": capped,
            "pair_completeness": hit / true_pairs if true_pairs else 1.0,
            "scored": n_scored, "matches": n_match,
        }

    def trace_store(self, docs) -> None:
        from ditto_spark.session import clear_operator_caches

        cfg = pipeline_config(self.wl)
        path = os.path.join(self.work, "store-trace")
        spans = []
        for k in range(self.spec["trace_iters"]):
            shutil.rmtree(path, ignore_errors=True)
            clear_operator_caches(self.spark)
            tr = Tracer(self.spark, f"{self.wl}-it{k}")
            f = traced_store_pipeline(self.spark, docs, cfg, path, tr)
            spans += tr.spans
            self.check(f"traced store labels equal cold labels ({k})",
                       label_hash(entity_labels(f["entities"]))
                       == self.out["label_hash"])
            self.check(f"traced re-read resumes every stage ({k})",
                       f["reread"].recomputed == [], str(f["reread"].recomputed))
        store = f["store"]
        files, size = 0, 0
        for root, _, names in os.walk(path):
            for n in names:
                size += os.path.getsize(os.path.join(root, n))
                files += n.startswith("part-")
        lineage, metrics = store.lineage(), store.metrics()
        self.out["spans"] = spans
        self.out["trace"] = {
            "bytes_written": size, "files": files,
            "lineage_rows": lineage.count(), "metrics_rows": metrics.count(),
        }
        shutil.rmtree(path, ignore_errors=True)


def main() -> None:
    with open(sys.argv[1]) as fh:
        spec = json.load(fh)
    leg = Leg(spec)
    tracing = spec["mode"] == "trace"
    from ditto_spark.schema import DOC_SCHEMA
    from ditto_spark.session import get_spark

    t = time.monotonic()
    spark = get_spark(f"perfbench-{spec['workload']}", cores=spec["cores"],
                      shuffle_partitions=spec["cores"])
    leg.spark = spark
    leg.out["start_s"] = time.monotonic() - t
    leg.out["app_id"] = spark.sparkContext.applicationId
    leg.out["spark_version"] = spark.version
    try:
        if spec["workload"] == "er_stream":
            leg.run_stream_workload(tracing)
        else:
            docs = spark.read.schema(DOC_SCHEMA).parquet(spec["docs"])
            leg.out["docs"] = docs.count()
            if spec["workload"] == "er_store":
                leg.run_store_workload(docs, tracing)
            else:
                leg.run_pipeline_workload(docs, tracing)
    finally:
        spark.stop()
    leg.out["setup_s"] = leg.out["t_first"] - spec["t0"]
    if tracing and spec.get("eventlog"):
        logs = [os.path.join(spec["eventlog"], n)
                for n in os.listdir(spec["eventlog"])
                if leg.out["app_id"] in n]
        leg.out["eventlog"] = (parse_event_log(logs[0], leg.out["spans"])
                               if logs and leg.out.get("spans") else {})
    with open(spec["out"], "w") as fh:
        json.dump(leg.out, fh)


if __name__ == "__main__":
    main()
