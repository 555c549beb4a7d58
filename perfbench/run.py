"""End-to-end benchmark of the ER engine: one workload per run.

    python3 perfbench/run.py --workload er_native --seed 1 --seconds 10 \
        --trace 0 [--smoke]

Run from the repository root. The run generates the seed's inputs once
(``ditto_spark.synth`` plus planted truth, cached under
``.perfbench_work/``, outside every timed window). It then starts one or
more Spark processes ("legs", ``leg.py``) with a pinned environment and
checks every output. Memory is sampled from ``/proc`` over each leg's
whole process tree. Nothing is read or written outside the checkout.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` adds a traced
pass: each layer is called through its public functions inside a span
and a Spark job group, and the Spark event log is parsed offline. That
run prints the per-layer metrics. ``--smoke`` shrinks every input to a
few hundred docs and runs each loop once; the benchmark's own tests use
it. The last stdout line is the JSON result; the lines before it give
the pinned environment and, for each metric, its median, sample count
and highest supported percentile.
"""

from __future__ import annotations

import argparse
import ctypes
import glob
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
RUN_BUDGET_S = 170          # the whole run, set-up and checks included

from common import (group_members, summarize, tree_rss_mb)  # noqa: E402

WORKLOADS = ("er_native", "er_model", "er_store", "er_stream")

# (name, unit, better, bound) — BENCHMARK.json mirrors these lists
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("docs_per_s", "docs/s", "higher", 0.25),
    ("latency_p50_ms", "ms", "lower", 0.25),
    ("peak_rss_mb", "MB", "lower", 0.25),
    ("pair_f1", "ratio", "higher", 0.2),
]
PER_LAYER = [
    ("session.start_s", "s", "lower"),
    ("session.warm_s", "s", "lower"),
    ("serialize.wall_s", "s", "lower"),
    ("serialize.rows_out", "count", "higher"),
    ("knowledge.wall_s", "s", "lower"),
    ("blocking.minhash.wall_s", "s", "lower"),
    ("blocking.sn.wall_s", "s", "lower"),
    ("blocking.union.wall_s", "s", "lower"),
    ("blocking.minhash.pairs", "count", "lower"),
    ("blocking.sn.pairs", "count", "lower"),
    ("blocking.candidates_per_doc", "pairs/doc", "lower"),
    ("blocking.union_dup_ratio", "ratio", "lower"),
    ("blocking.bucket_cap_hits", "count", "lower"),
    ("blocking.pair_completeness", "ratio", "higher"),
    ("blocking.shuffle_write_mb", "MB", "lower"),
    ("blocking.spill_mb", "MB", "lower"),
    ("score.wall_s", "s", "lower"),
    ("score.pairs_per_s", "pairs/s", "higher"),
    ("score.match_rate", "ratio", "higher"),
    ("score.shuffle_write_mb", "MB", "lower"),
    ("cluster.wall_s", "s", "lower"),
    ("cluster.jobs", "count", "lower"),
    ("cluster.entities", "count", "lower"),
    ("cluster.max_entity_size", "count", "lower"),
    *[(f"checkpoint.{s}.{op}_s", "s", "lower")
      for s in ("serialized", "candidates", "scored", "entities")
      for op in ("write", "read")],
    ("checkpoint.bytes_written", "bytes", "lower"),
    ("checkpoint.files", "count", "lower"),
    ("checkpoint.lineage_rows", "count", "lower"),
    ("checkpoint.metrics_rows", "count", "lower"),
    ("checkpoint.stages_recomputed", "count", "lower"),
    ("stream.trigger_ms", "ms", "lower"),
    ("stream.add_batch_ms", "ms", "lower"),
    ("stream.input_rows", "count", "higher"),
    ("stream.label_files", "count", "lower"),
    ("spark.jobs", "count", "lower"),
    ("spark.gc_s", "s", "lower"),
    ("spark.tasks_failed", "count", "lower"),
    ("spark.shuffle_write_mb", "MB", "lower"),
    ("spark.spill_mb", "MB", "lower"),
    ("spark.core_busy_ratio", "ratio", "higher"),
    ("trace_overhead_s", "s", "lower"),
    ("failed_ratio", "ratio", "lower"),
    ("scaling_eff_1to4", "ratio", "higher"),
]

# docs per input; a fixed count keeps the work per seed the same
SIZES = {
    "full": {"er_native": 12000, "er_model": 2400, "er_store": 5000,
             "er_stream": 2600},
    "smoke": {"er_native": 300, "er_model": 120, "er_store": 300,
              "er_stream": 400},
}
STREAM_BATCH_DOCS = {"full": 200, "smoke": 40}
# The timed loop runs a fixed number of iterations for a given --seconds:
# about seconds / NOMINAL_S of them, at least MIN_ITERS (an er_store
# iteration is a cold run plus three resumes, so two already give four
# resume samples; er_stream streams that many micro-batches). A fixed
# count keeps every run at the same point of the JIT warm-up curve.
NOMINAL_S = {"er_native": 2.0, "er_model": 4.5, "er_store": 9.0,
             "er_stream": 2.7}
MIN_ITERS = {"er_native": 3, "er_model": 3, "er_store": 2, "er_stream": 2}
WARM_ITERS = {"er_native": 2, "er_model": 1, "er_store": 1, "er_stream": 1}
STREAM_BUCKETS = 16         # store buckets sized to the small corpus


# -- environment ----------------------------------------------------------

def host_facts() -> dict:
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f
                      if line.startswith("MemTotal:"))
    return {"nproc": len(os.sched_getaffinity(0)),
            "mem_total_mb": mem_kb // 1024,
            "openblas_core": openblas_core()}


def openblas_core() -> str:
    """The OpenBLAS kernel numpy dispatches to on this CPU; model scores
    (and so er_model labels) can differ between kernels."""
    import numpy

    libdir = os.path.join(os.path.dirname(numpy.__file__), "..", "numpy.libs")
    for path in glob.glob(os.path.join(libdir, "*openblas*.so*")):
        lib = ctypes.CDLL(path)
        for name in ("openblas_get_corename64_", "openblas_get_corename",
                     "scipy_openblas_get_corename64_"):
            fn = getattr(lib, name, None)
            if fn is not None:
                fn.restype = ctypes.c_char_p
                return fn().decode()
    return "unknown"


def pinned_env(facts: dict, run_dir: str) -> tuple[dict, dict]:
    """The environment every leg gets, whatever the caller's shell has,
    and the pinned part of it (printed with the results)."""
    heap_gb = max(1, min(32, int(facts["mem_total_mb"] * 0.4 / 1024)))
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    pins = {
        "SPARK_GRAFT_CPUS": str(facts["nproc"]),
        "SPARK_DRIVER_MEM": f"{heap_gb}g",
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "SPARK_WAREHOUSE_DIR": os.path.join(run_dir, "warehouse"),
        "PYTHONPATH": ROOT,
        "TMPDIR": tmp,
        # keep the JVM's scratch files inside the checkout
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONHASHSEED": "0",
    }
    for var in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS",
                "MKL_NUM_THREADS", "NUMEXPR_NUM_THREADS"):
        pins[var] = "1"
    env = {k: v for k, v in os.environ.items()
           if not k.startswith(("SPARK_", "PYSPARK_"))}
    env.update(pins)
    return env, pins


# -- inputs ---------------------------------------------------------------

def write_docs(pdf, path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    span = pa.struct([("kind", pa.string()), ("text", pa.string()),
                      ("media_ref", pa.string()), ("offset", pa.int32())])
    schema = pa.schema([("doc_id", pa.string()), ("spans", pa.list_(span))])
    pq.write_table(pa.Table.from_pandas(pdf[["doc_id", "spans"]],
                                        schema=schema, preserve_index=False),
                   path)


def make_inputs(wl: str, size: str, seed: int, n_batches: int) -> dict:
    """Generate (once per seed) the docs and planted truth a run reads.
    Stream inputs are shuffled so later batches hold corrupted copies of
    entities already in the corpus, then cut into a corpus file, one
    warm-up batch, ``n_batches`` measured and ``n_batches`` traced ones."""
    import random

    from ditto_spark.synth import gen_docs_pandas

    n_docs = SIZES[size][wl]
    tag = f"{wl}-{size}-d{n_docs}-s{seed}"
    if wl == "er_stream":
        tag += f"-b{n_batches}"
    d = os.path.join(WORK, "inputs", tag)
    info = {"docs": os.path.join(d, "docs.parquet"),
            "truth": os.path.join(d, "truth.parquet"),
            "batches_dir": os.path.join(d, "batches"), "tag": tag}
    bd = STREAM_BATCH_DOCS[size]
    names = [f"b{i:03d}.parquet" for i in range(2 + 2 * n_batches)]
    info["setup_files"] = names[:2]
    info["measure_files"] = names[2:2 + n_batches]
    info["trace_files"] = names[2 + n_batches:]
    if os.path.exists(os.path.join(d, "_DONE")):
        return info
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    # about 2.4 docs per entity: generate a surplus, keep the first n_docs
    docs, truth = gen_docs_pandas(n_docs // 2 + 10, seed=seed)
    docs, truth = docs.iloc[:n_docs], truth.iloc[:n_docs]
    truth.to_parquet(info["truth"], index=False)
    if wl == "er_stream":
        os.makedirs(info["batches_dir"])
        order = list(range(len(docs)))
        random.Random(seed).shuffle(order)
        docs = docs.iloc[order].reset_index(drop=True)
        n_corpus = len(docs) - (len(names) - 1) * bd
        cuts = [0, n_corpus] + [n_corpus + bd * i
                                for i in range(1, len(names))]
        for name, lo, hi in zip(names, cuts, cuts[1:]):
            write_docs(docs.iloc[lo:hi], os.path.join(info["batches_dir"],
                                                       name))
    else:
        write_docs(docs, info["docs"])
    open(os.path.join(d, "_DONE"), "w").close()
    return info


# -- legs -----------------------------------------------------------------

class RssSampler(threading.Thread):
    """Peak summed PSS of a process tree, sampled from /proc."""

    def __init__(self, pid: int):
        super().__init__(daemon=True)
        self.pid, self.peak = pid, 0.0
        self.done = threading.Event()

    def run(self) -> None:
        while not self.done.is_set():
            self.peak = max(self.peak, tree_rss_mb(self.pid))
            self.done.wait(0.5)


def stop_group(pgid: int, grace_s: float = 15.0) -> None:
    """Wait for every process of the leg's group to end; kill stragglers."""
    deadline = time.monotonic() + grace_s
    while group_members(pgid) and time.monotonic() < deadline:
        time.sleep(0.1)
    if group_members(pgid):
        try:
            os.killpg(pgid, signal.SIGKILL)
        except ProcessLookupError:
            return
        while group_members(pgid):
            time.sleep(0.1)


def run_leg(name: str, spec: dict, env: dict, run_dir: str,
            deadline: float) -> dict:
    spec = dict(spec, out=os.path.join(run_dir, f"{name}.out.json"))
    spec_path = os.path.join(run_dir, f"{name}.spec.json")
    log_path = os.path.join(run_dir, f"{name}.log")
    if spec["mode"] == "trace":
        spec["eventlog"] = os.path.join(run_dir, f"{name}-eventlog")
        os.makedirs(spec["eventlog"])
        env = dict(env, PYSPARK_SUBMIT_ARGS=(
            "--conf spark.eventLog.enabled=true "
            "--conf spark.eventLog.compress=false "
            "--conf spark.eventLog.rolling.enabled=false "
            f"--conf spark.eventLog.dir=file://{spec['eventlog']} "
            "pyspark-shell"))
    spec["t0"] = time.monotonic()
    with open(spec_path, "w") as f:
        json.dump(spec, f)
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "leg.py"), spec_path],
            cwd=ROOT, env=env, stdout=log, stderr=subprocess.STDOUT,
            start_new_session=True)
    sampler = RssSampler(proc.pid)
    sampler.start()
    try:
        proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
    finally:
        sampler.done.set()
        sampler.join()
        stop_group(proc.pid)
    if proc.returncode != 0 or not os.path.exists(spec["out"]):
        with open(log_path) as f:
            tail = f.read()[-3000:]
        raise RuntimeError(f"leg {name} failed (exit {proc.returncode}):\n"
                           f"{tail}")
    with open(spec["out"]) as f:
        out = json.load(f)
    out["peak_rss_mb"] = sampler.peak
    return out


# -- metrics ----------------------------------------------------------------

def median(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(wl: str, leg: dict, legs: list[dict]) -> dict:
    lat = [x for r in leg["iters"]
           for x in r.get("resume_s", [r.get("latency_s")]) if x is not None]
    if wl == "er_stream":
        dps = [leg["stream_docs"] / leg["stream_wall_s"]]
    else:
        dps = [leg["docs"] / r["wall_s"] for r in leg["iters"]
               if "wall_s" in r]
    return {
        "setup_s": [leg["setup_s"]],
        "docs_per_s": dps,
        "latency_p50_ms": [x * 1000 for x in lat],
        "peak_rss_mb": [max(x["peak_rss_mb"] for x in legs)],
        "pair_f1": [leg["pair_f1"]],
    }


def per_layer(wl: str, leg: dict, scale_leg: dict | None,
              failed_ratio: float, cores: int) -> dict:
    m = {name: 0.0 for name, _, _ in PER_LAYER}
    m["session.start_s"] = leg["start_s"]
    m["session.warm_s"] = leg["warm_s"]
    m["failed_ratio"] = failed_ratio
    spans = leg.get("spans", [])
    n_traces = max(1, len({s["trace"] for s in spans}))
    wall, ev = {}, {}
    for s in spans:
        wall[s["name"]] = wall.get(s["name"], 0.0) + s["wall_s"] / n_traces
        for k, v in leg.get("eventlog", {}).get(s["id"], {}).items():
            ev.setdefault(s["name"], {}).setdefault(k, 0)
            ev[s["name"]][k] += v / n_traces

    def evsum(names, key):
        return sum(ev.get(n, {}).get(key, 0) for n in names)

    mb = 2.0 ** 20
    t = leg.get("trace", {})
    untraced = median([r["wall_s"] for r in leg["iters"] if "wall_s" in r])
    if wl in ("er_native", "er_model"):
        blk = ("blocking.minhash", "blocking.sn", "blocking.union")
        for name in ("serialize", "knowledge", *blk, "score", "cluster"):
            m[f"{name}.wall_s"] = wall.get(name, 0.0)
        mh, sn = t["minhash_pairs"], t["sn_pairs"]
        m.update({
            "serialize.rows_out": t["rows_out"],
            "blocking.minhash.pairs": mh, "blocking.sn.pairs": sn,
            "blocking.candidates_per_doc": t["candidates"] / t["rows_out"],
            "blocking.union_dup_ratio": (mh + sn - t["candidates"])
            / max(1, mh + sn),
            "blocking.bucket_cap_hits": t["bucket_cap_hits"],
            "blocking.pair_completeness": t["pair_completeness"],
            "blocking.shuffle_write_mb": evsum(blk, "shuffle_write_b") / mb,
            "blocking.spill_mb": evsum(blk, "spill_b") / mb,
            "score.pairs_per_s": t["scored"] / max(1e-9, wall["score"]),
            "score.match_rate": t["matches"] / max(1, t["scored"]),
            "score.shuffle_write_mb": evsum(["score"], "shuffle_write_b") / mb,
            "cluster.jobs": evsum(["cluster"], "jobs"),
            "cluster.entities": leg["entities"],
            "cluster.max_entity_size": leg["max_entity_size"],
        })
        traced = wall["pipeline"]
    elif wl == "er_store":
        for s in ("serialized", "candidates", "scored", "entities"):
            for op in ("write", "read"):
                m[f"checkpoint.{s}.{op}_s"] = wall.get(f"checkpoint.{s}.{op}",
                                                       0.0)
        m.update({
            "checkpoint.bytes_written": t["bytes_written"],
            "checkpoint.files": t["files"],
            "checkpoint.lineage_rows": t["lineage_rows"],
            "checkpoint.metrics_rows": t["metrics_rows"],
            "checkpoint.stages_recomputed": median(
                [r["stages_recomputed"] for r in leg["iters"]
                 if "stages_recomputed" in r]),
            "cluster.entities": leg["entities"],
            "cluster.max_entity_size": leg["max_entity_size"],
        })
        traced = wall["pipeline"]
    else:
        tb = leg.get("trace_iters", [])
        m.update({
            "stream.trigger_ms": 1000 * median([b["latency_s"] for b in tb]),
            "stream.add_batch_ms": 1000 * median(
                [b["add_batch_s"] for b in tb]),
            "stream.input_rows": sum(b["rows"] for b in tb),
            "stream.label_files": t["label_files"],
            "cluster.entities": leg["entities"],
            "cluster.max_entity_size": leg["max_entity_size"],
        })
        traced = wall["stream"]
        untraced = leg["stream_wall_s"]
    tops = [n for n in wall if n in ("pipeline", "resume", "stream")]
    m.update({
        "spark.jobs": sum(e["jobs"] for e in ev.values()),
        "spark.gc_s": sum(e["gc_ms"] for e in ev.values()) / 1000,
        "spark.tasks_failed": sum(e["tasks_failed"] for e in ev.values()),
        "spark.shuffle_write_mb": sum(e["shuffle_write_b"]
                                      for e in ev.values()) / mb,
        "spark.spill_mb": sum(e["spill_b"] for e in ev.values()) / mb,
        "spark.core_busy_ratio": sum(e["run_ms"] for e in ev.values())
        / 1000 / max(1e-9, sum(wall[n] for n in tops) * cores),
        "trace_overhead_s": traced - untraced,
    })
    if scale_leg is not None:
        one = median([scale_leg["docs"] / r["wall_s"]
                      for r in scale_leg["iters"] if "wall_s" in r])
        many = median([leg["docs"] / r["wall_s"]
                       for r in leg["iters"] if "wall_s" in r])
        m["scaling_eff_1to4"] = many / (cores * one)
    return m


def expected_check(wl: str, tag: str, leg: dict, facts: dict,
                   record: bool) -> list[dict]:
    """Compare label hash and pair F1 with the values recorded for this
    input (when there are any); er_model values only count on the
    OpenBLAS kernel they were recorded with."""
    path = os.path.join(HERE, "expected.json")
    with open(path) as f:
        book = json.load(f)
    got = {"label_hash": leg["label_hash"], "pair_f1": round(leg["pair_f1"], 9)}
    if wl == "er_model":
        got["openblas_core"] = facts["openblas_core"]
    if record:
        book[tag] = got
        with open(path, "w") as f:
            json.dump(dict(sorted(book.items())), f, indent=1)
            f.write("\n")
        return []
    want = book.get(tag)
    if want is None or want.get("openblas_core", got.get("openblas_core")) \
            != got.get("openblas_core"):
        return []
    return [{"name": f"{k} matches the recorded value",
             "ok": got[k] == want[k], "detail": f"{got[k]} vs {want[k]}"}
            for k in ("label_hash", "pair_f1")]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="a few hundred docs, one iteration per loop")
    ap.add_argument("--record", action="store_true",
                    help="store this run's label hash and pair F1 as the "
                    "expected values for its input")
    args = ap.parse_args()
    started = time.monotonic()
    if not os.path.isfile(os.path.join(ROOT, "ditto_spark", "__init__.py")):
        print(f"perfbench: no ditto_spark package under {ROOT}; run from "
              "the repository root", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    wl, size = args.workload, "smoke" if args.smoke else "full"
    run_dir = os.path.join(WORK, "runs", wl)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    facts = host_facts()
    env, pins = pinned_env(facts, run_dir)
    iters = 1 if args.smoke else max(MIN_ITERS[wl],
                                     round(args.seconds / NOMINAL_S[wl]))
    inputs = make_inputs(wl, size, args.seed, iters)
    spec = {
        "workload": wl, "mode": "trace" if args.trace else "measure",
        "cores": facts["nproc"], "iters": iters,
        "warm_iters": 1 if args.smoke else WARM_ITERS[wl], "trace_iters": 1,
        "work": run_dir, "input_id": inputs["tag"],
        "src": os.path.join(run_dir, "src"), "n_buckets": STREAM_BUCKETS,
        "batch_docs": STREAM_BATCH_DOCS[size], **inputs,
    }
    deadline = started + RUN_BUDGET_S
    legs = [run_leg("main", spec, env, run_dir, deadline)]
    scale_leg = None
    if args.trace and wl == "er_model":
        scale_leg = run_leg("local1", dict(spec, cores=1, trace_iters=0,
                                           iters=1), env, run_dir, deadline)
        legs.append(scale_leg)
    leg = legs[0]
    checks = list(leg["checks"])
    tag = inputs["tag"] + ("-trace" if args.trace and wl == "er_stream"
                           else "")
    checks += expected_check(wl, tag, leg, facts, args.record)
    if scale_leg is not None:
        checks.append({"name": "local[1] labels equal local[N] labels",
                       "ok": scale_leg["label_hash"] == leg["label_hash"],
                       "detail": scale_leg["label_hash"]})
    ops = leg["iters"] + leg.get("trace_iters", [])
    attempted = len(ops) + len(checks)
    failed = sum(not r["ok"] for r in ops + checks)
    e2e = end_to_end(wl, leg, legs)

    print("# env " + json.dumps({
        **pins, **facts, "spark_version": leg["spark_version"],
        "workload": wl, "seed": args.seed, "seconds": args.seconds,
        "inputs": inputs["tag"], "docs": leg.get("docs")}))
    print("# output " + json.dumps({"tag": tag,
                                    "label_hash": leg["label_hash"],
                                    "pair_f1": leg["pair_f1"]}))
    for c in checks:
        if not c["ok"]:
            print(f"# FAILED check: {c['name']} ({c['detail']})")
    for r in ops:
        if not r["ok"]:
            print(f"# FAILED op {r.get('k')}: {r.get('error', 'output check')}")
    for name, unit, _, _ in END_TO_END:
        s = summarize(e2e[name])
        pct = (f" p{s['pct']:g}={s['pct_value']:.6g}" if s["pct"] else "")
        print(f"# {name:16s} median={s['median']:.6g} {unit} n={s['n']}{pct}")
    if args.trace:
        metrics = per_layer(wl, leg, scale_leg, failed / attempted,
                            facts["nproc"])
        for name, unit, _ in PER_LAYER:
            print(f"# {name:34s} {metrics[name]:.6g} {unit}")
        out = {n: {"value": metrics[n], "unit": u} for n, u, _ in PER_LAYER}
    else:
        out = {n: {"value": median(e2e[n]), "unit": u}
               for n, u, _, _ in END_TO_END}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
