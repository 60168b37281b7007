"""kstore_spark benchmark: one workload, one seed, one closed-loop run.

    python3 kbench/run.py --workload dsl_mixed --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. One client, one request in flight,
Spark at local[nproc]. Workloads (see ``dsl.py`` and ``corpus.py``):

- ``dsl_mixed``: DSL read scripts interleaved with mutations, through the
  TCP server, against a catalog loaded in set-up;
- ``corpus_mixed``: index-served searches, streaming index maintenance
  and a curation pass, called in-process.

The measured phase repeats whole request cycles until ``--seconds`` have
passed, so every run sees the same mix of request kinds. Every output is
checked after the measured phase; a mismatch or an error counts as
failed and is printed to stderr.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. With ``--trace 0`` the metrics are the
end-to-end ones; with ``--trace 1`` they are the per-layer ones (see
``trace.py``), measured with wrappers and the Spark event log on. The
line before it records the environment, sample counts, any p90 with
enough samples behind it, and the failures.

Each run is hermetic: TMPDIR, the artifact store, the catalog, Spark's
local and warehouse dirs and the JVM temp dir all live in a fresh dir
under ``.kbench/tmp`` that is removed at the end. Generated inputs are
cached by seed under ``.kbench/inputs``; spans of traced runs are kept
under ``.kbench/traces``.
"""

from __future__ import annotations

import time

T0 = time.time()

import argparse  # noqa: E402
import faulthandler  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("dsl_mixed", "corpus_mixed")
DEADLINE_S = 170  # a run must end within 180 s


def jvm_opts(heap_gb: int) -> str:
    """Driver JVM options. G1 grows the heap and sizes the young generation
    from GC timing, so the JVM's VmHWM swung by +-15% between runs on the
    same inputs. With both pinned, VmHWM is the young generation plus the
    old generation's high-water plus native memory."""
    return f"-Xms{heap_gb}g -Xmn{heap_gb * 1024 // 3}m"


def host_env(run_dir: str, trace: bool) -> dict:
    """Environment for this process and the JVM and Python workers it starts."""
    cpus = len(os.sched_getaffinity(0))
    phys_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    # below physical RAM: the library default (24g) assumes a large host
    heap_gb = max(1, min(4, int(phys_gb // 4)))
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    submit = ["--conf", f"spark.sql.warehouse.dir=file://{run_dir}/warehouse",
              "--conf", "spark.driver.extraJavaOptions=" + jvm_opts(heap_gb).replace(" ", "\\ ")]
    if trace:
        from kbench.trace import submit_args

        os.makedirs(os.path.join(run_dir, "eventlog"))
        submit += submit_args(os.path.join(run_dir, "eventlog"))
    return {
        "TMPDIR": tmp,
        "KSTORE_ARTIFACTS_DIR": os.path.join(run_dir, "artifacts"),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEMORY": f"{heap_gb}g",
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": " ".join(submit + ["pyspark-shell"]),
    }


def describe_env() -> dict:
    import pyspark

    h = hashlib.sha1()
    src = os.path.join(ROOT, "kstore_spark")
    for root, dirs, files in os.walk(src):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                h.update(os.path.relpath(os.path.join(root, f), src).encode())
                with open(os.path.join(root, f), "rb") as fh:
                    h.update(fh.read())
    sha = None
    if os.path.isdir(os.path.join(ROOT, ".git")):  # a plain checkout has no history
        try:
            sha = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                                 text=True, timeout=10).stdout.strip() or None
        except (OSError, subprocess.SubprocessError):
            pass
    return {"cpus": int(os.environ["SPARK_GRAFT_CPUS"]),
            "driver_memory": os.environ["SPARK_DRIVER_MEMORY"],
            "driver_java_options": jvm_opts(int(os.environ["SPARK_DRIVER_MEMORY"][:-1])),
            "git_sha": sha, "source_sha": h.hexdigest()[:12],
            "pyspark": pyspark.__version__, "loadavg": os.getloadavg()}


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM missing from /proc status")


def stop_spark(spark) -> None:
    """Stop the session and wait for the gateway JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits at stdin EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def timed(wl, req: dict, tracer=None) -> dict:
    """Run one request. With a tracer (measured requests of a traced run),
    spans are tagged with the request and the bytes its store grew by are
    recorded."""
    from kbench.inputs import dir_bytes

    rec = dict(req, error=None, out=None)
    if tracer is not None:
        tracer.req = req["id"]
        before = dir_bytes(wl.store_dir)
    rec["start"] = time.time()
    try:
        rec["out"] = wl.execute(req)
    except Exception as e:  # noqa: BLE001 - a failed request is counted, not fatal
        rec["error"] = f"{type(e).__name__}: {str(e)[:300]}"
    rec["end"] = time.time()
    if tracer is not None:
        rec["bytes_written"] = dir_bytes(wl.store_dir) - before
    return rec


def run(args, cache_dir: str, run_dir: str) -> dict:
    from kbench import inputs

    g0 = time.time()
    if args.workload == "dsl_mixed":
        data = inputs.write_dsl_inputs(cache_dir, args.seed)
    else:
        data = inputs.write_corpus_inputs(cache_dir, args.seed)
    gen_s = time.time() - g0

    os.environ.update(host_env(run_dir, args.trace))
    tempfile.tempdir = None  # re-read TMPDIR
    from kbench import stats
    from kbench.trace import Tracer
    from kstore_spark.session import get_spark

    tracer = Tracer() if args.trace else None
    spark = get_spark(f"kbench-{args.workload}")
    if tracer is not None:
        tracer.install(spark)
        tracer.listen(spark)
        tracer.req = "setup"
    if args.workload == "dsl_mixed":
        from kbench.dsl import DslWorkload

        wl = DslWorkload(spark, data, os.path.join(run_dir, "db"), args.seed)
    else:
        from kbench.corpus import CorpusWorkload

        wl = CorpusWorkload(spark, data, os.environ["KSTORE_ARTIFACTS_DIR"], args.seed)
    log_dir = os.path.join(run_dir, "eventlog")
    try:
        wl.setup(lambda r: timed(wl, r))
        setup_s = time.time() - T0 - gen_s

        measured: list[dict] = []
        m0 = time.time()
        while not measured or time.time() - m0 < args.seconds:
            for req in wl.cycle():
                rec = timed(wl, req, tracer)
                measured.append(rec)
                if rec["error"]:
                    print(f"kbench: request {rec['id']} {rec['kind']} failed: {rec['error']}",
                          file=sys.stderr)
        if tracer is not None:
            tracer.req = None
        peak_rss = jvm_peak_rss_mb(spark)
        if tracer is not None:
            time.sleep(1.0)  # let the listener bus deliver the last progress events
    finally:
        wl.close()
        stop_spark(spark)

    everything = wl.warm_records + measured
    mismatches = wl.check(everything)
    failures = {r["id"]: r["error"] for r in everything if r["error"]}
    failures.update(mismatches)
    for rid, msg in sorted(mismatches.items()):
        print(f"kbench: request {rid} wrong: {msg}", file=sys.stderr)

    ok = [r for r in measured if r["id"] not in failures]
    by_kind: dict[str, list[float]] = {}
    for r in ok:
        by_kind.setdefault(r["kind"], []).append((r["end"] - r["start"]) * 1000)
    cls_of = {r["kind"]: r["cls"] for r in measured}
    lat = {c: {k: v for k, v in by_kind.items() if cls_of[k] == c}
           for c in ("read", "write", "heavy")}
    heavy_rates = [r["rows"] / (r["end"] - r["start"]) for r in ok if r["cls"] == "heavy"]
    e2e = {
        "setup_s": setup_s,
        "read_ms": stats.kind_mean(lat["read"]),
        "write_ms": stats.kind_mean(lat["write"]),
        "heavy_rows_per_s": stats.p50(heavy_rates),
        "storage_amp": wl.storage_amp(),
        "peak_rss_mb": peak_rss,
    }
    info = {
        "workload": args.workload, "seed": args.seed, "trace": bool(args.trace),
        "env": describe_env(), "gen_s": round(gen_s, 3),
        "samples": {k: len(v) for k, v in sorted(by_kind.items())},
        "kind_p50_ms": {k: round(stats.p50(v), 1) for k, v in sorted(by_kind.items())},
        "kind_p90_ms": {k: stats.tail(v) for k, v in sorted(by_kind.items())
                        if stats.tail(v) is not None},
        "fail_ratio": len(failures) / len(everything),
        "failures": [f"{k}: {v}" for k, v in sorted(failures.items())][:20],
    }
    if tracer is not None:
        from kbench.trace import layer_metrics, read_event_log, spark_by_request

        # the JVM stamps jobs in whole milliseconds
        windows = sorted((math.floor(r["start"] * 1000), math.ceil(r["end"] * 1000), r["id"])
                         for r in measured)
        per, unattributed, attributed = spark_by_request(read_event_log(log_dir), windows)
        writes = [r for r in measured if r["cls"] == "write"]
        layers = layer_metrics(tracer, measured, per, unattributed, attributed,
                               wl.catalog_state(),
                               sum(r.get("bytes_written", 0) for r in writes),
                               sum(r.get("user_bytes", 0) for r in writes))
        layers.update({f"traced.{k}": v for k, v in e2e.items()})
        trace_dir = os.path.join(os.path.dirname(cache_dir), "traces")
        os.makedirs(trace_dir, exist_ok=True)
        tracer.dump(os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.jsonl"))
        units = stats.per_layer_units()
        metrics = {k: {"value": layers[k], "unit": units[k]} for k in units}
        info["moves"] = {k: stats.moves(k) for k in units}
    else:
        metrics = {k: {"value": v, "unit": stats.END_TO_END[k]} for k, v in e2e.items()}
    missing = [k for k, m in metrics.items() if m["value"] is None]
    if missing:
        raise RuntimeError(f"metrics without samples: {missing}")
    print(json.dumps(info))
    return {"correct": not failures, "attempted": len(everything),
            "failed": len(failures), "metrics": metrics}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "kstore_spark", "session.py")):
        print(f"kbench: no kstore_spark package under {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2
    faulthandler.dump_traceback_later(DEADLINE_S, exit=True)
    sys.path.insert(0, ROOT)
    state = os.path.join(ROOT, ".kbench")
    cache_dir = os.path.join(state, "inputs")
    os.makedirs(cache_dir, exist_ok=True)
    os.makedirs(os.path.join(state, "tmp"), exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix="run-", dir=os.path.join(state, "tmp"))
    try:
        result = run(args, cache_dir, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
