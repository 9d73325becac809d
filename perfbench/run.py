"""The repository benchmark.

    python3 perfbench/run.py --workload <kvs-catchup|frame-live|corpus-curate>
                             --seed <n> --seconds <s> --trace <0|1> [--cores <n>]

Run from the root of a checkout. One process per run: it builds the
Spark session through ``session.get_spark`` (its cold start is
``setup_s``), generates the workload's inputs from ``--seed``, runs the
workload through the program's public functions, checks the outputs,
and prints as its last stdout line one JSON object ``{"correct",
"attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics named in BENCHMARK.json,
``--trace 1`` the per-layer ones (spans written to
``.perfbench_out/trace-<workload>-<seed>.json``, plus a Spark event log).
``--cores 1`` gives the single-threaded ``local[1]`` baseline.
What each metric means on each workload is in perfbench/README.md.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = {"kvs-catchup": "kvs", "frame-live": "live", "corpus-curate": "corpus"}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--cores", type=int, default=4)
    return ap.parse_args(argv)


class Context:
    def __init__(self, args, spark, spans, work):
        self.spark = spark
        self.spans = spans
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.work = work


def isolate(work: str, cores: int) -> None:
    """Keep every file Spark, the JVM and the Python workers write
    inside `work`, and let the workers import the program."""
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -Dderby.system.home={work} "
        "-XX:-UsePerfData")  # no hsperfdata files outside the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    # A fixed 2 GB driver heap: with the 8 GB default the JVM's resident
    # size follows G1's heap-growth heuristics and peak RSS is not steady.
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ.pop("SPARK_GRAFT_ON_CLUSTER", None)


def main(argv=None) -> int:
    args = parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    isolate(work, args.cores)
    sys.path[:0] = [ROOT, HERE]
    try:
        return measure(args, bench, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's work directory is still there


def measure(args, bench: dict, work: str) -> int:
    import common
    import spark_proc

    workload = importlib.import_module(WORKLOADS[args.workload])  # imports the program

    spans = common.Spans(enabled=bool(args.trace))
    rss = common.RssSampler().start()
    conf = dict(workload.CONF)
    if args.trace:
        os.makedirs(os.path.join(work, "eventlog"))
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.compress": "false",
                     "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog")})
    spark, get_spark_s, first_job_s, setup_s = spark_proc.start(conf)
    try:
        res = workload.run(Context(args, spark, spans, work))
    finally:
        spark_proc.stop(spark)
    peak_rss_mb = rss.stop()

    lat = res["latencies"]
    tail_p, tail_v = common.tail(lat)
    e2e = {
        "setup_s": setup_s,
        "throughput_per_s": res["throughput"],
        "latency_p50_s": common.percentile(lat, 50),
        "latency_p99_s": tail_v,
        "recall": res["recall"],
        "peak_rss_mb": peak_rss_mb,
    }
    correct = all(ok for _, ok, _ in res["checks"])
    for name, ok, detail in res["checks"]:
        print(f"check {'ok  ' if ok else 'FAIL'} {name}: {detail}")
    print(f"latency samples {len(lat)}, tail percentile p{tail_p:g}; "
          f"setup {setup_s:.3f} s; work {json.dumps(res['work'])}")
    print("params " + json.dumps(workload.PARAMS))

    if args.trace:
        layers = dict(res["layers"])
        layers.update(common.event_log_metrics(os.path.join(work, "eventlog")))
        layers["session.get_spark_s"] = get_spark_s
        layers["session.first_job_s"] = first_job_s
        layers["failed_share"] = res["failed"] / res["attempted"]
        for k in ("throughput_per_s", "latency_p50_s", "setup_s"):
            layers[f"traced.{k}"] = e2e[k]
        declared = {m["name"]: m["unit"] for m in bench["per_layer"]}
        unknown = set(layers) - set(declared)
        if unknown:
            raise KeyError(f"per-layer metrics missing from BENCHMARK.json: {sorted(unknown)}")
        # a layer the workload does not exercise is idle: it reads 0
        values = {k: layers.get(k, 0.0) for k in declared}
        spans.write(os.path.join(ROOT, ".perfbench_out",
                                 f"trace-{args.workload}-{args.seed}.json"))
    else:
        declared = {m["name"]: m["unit"] for m in bench["end_to_end"]}
        values = {k: e2e[k] for k in declared}
    print(json.dumps({
        "correct": correct,
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": {k: {"value": float(v), "unit": declared[k]} for k, v in values.items()},
    }))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except SystemExit:
        raise
    except BaseException:
        traceback.print_exc()
        sys.exit(1)
