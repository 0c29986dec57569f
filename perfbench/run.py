"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Workloads, metrics and bounds are listed in
``BENCHMARK.json``; the rationale and the layer map are in
``perfbench/README.md``. The last stdout line is one JSON object with the
keys ``correct``, ``attempted``, ``failed`` and ``metrics``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. Everything the run writes stays under ``.perfbench_out/``
in the working directory.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import threading
import time

_T_PROCESS = time.perf_counter()
_HERE = os.path.dirname(os.path.abspath(__file__))
_ROOT = os.getcwd()
sys.path.insert(0, _HERE)
sys.path.insert(1, _ROOT)

WORKLOADS = ("ws_forward", "ws_sharded_stateful")
OUT_DIR = os.path.join(_ROOT, ".perfbench_out")


def _bench_spec() -> dict:
    with open(os.path.join(_ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _prepare_env() -> None:
    """Keep every file the run writes inside the working directory, and
    make the engine package importable by Spark's Python workers."""
    tmp = os.path.join(OUT_DIR, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(OUT_DIR, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (_ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    # every JVM, the spark-submit launcher's included: temp files here, and
    # no perf-data file (the JVM writes that one under /tmp regardless)
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


class MemorySampler:
    """Peak memory of this process and all its descendants (JVM, Python
    workers, feed children), minus the ``exclude`` process trees (the load
    generator is not part of the system under test). Each process counts
    its proportional set size, so pages shared by forked workers count
    once, not once per worker. The run has one JVM: a process the JVM is
    spawning shares its address space until it execs, so the JVM counts
    once, at its largest reading, and processes that are neither the JVM,
    Python nor this driver (spawns caught mid-exec) are not counted."""

    INTERVAL_S = 0.25

    def __init__(self, exclude: set[int]):
        self.exclude = exclude
        self.peak_kb = 0
        self.at_peak_mb: dict[str, float] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def start(self) -> "MemorySampler":
        self._thread.start()
        return self

    def _members(self) -> set[int]:
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, ValueError, IndexError):
                continue
            children.setdefault(ppid, []).append(int(name))
        members, frontier = set(), [os.getpid()]
        while frontier:
            pid = frontier.pop()
            if pid in self.exclude or pid in members:
                continue
            members.add(pid)
            frontier.extend(children.get(pid, []))
        return members

    @staticmethod
    def _kind(pid: int) -> str:
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as fh:
                cmd = fh.read()
        except OSError:
            return "other"
        if pid == os.getpid():
            return "driver"
        for marker, kind in ((b"java", "jvm"), (b"feed_proc", "feed_proc"),
                             (b"pyspark", "python_workers")):
            if marker in cmd:
                return kind
        return "other"

    def _sample(self) -> dict[str, int]:
        """PSS in kB per kind of process."""
        out: dict[str, int] = {}
        for pid in self._members():
            kind = self._kind(pid)
            if kind == "other":
                continue
            try:
                with open(f"/proc/{pid}/smaps_rollup") as fh:
                    pss = next(int(line.split()[1]) for line in fh if line.startswith("Pss:"))
            except (OSError, StopIteration):
                continue
            if kind == "jvm":
                out[kind] = max(out.get(kind, 0), pss)
            else:
                out[kind] = out.get(kind, 0) + pss
        return out

    def _run(self) -> None:
        while not self._stop.is_set():
            sample = self._sample()
            if sum(sample.values()) > self.peak_kb:
                self.peak_kb = sum(sample.values())
                self.at_peak_mb = {k: v / 1024.0 for k, v in sample.items()}
            self._stop.wait(self.INTERVAL_S)

    def stop(self) -> float:
        """Stop sampling; return the peak in MB."""
        self._stop.set()
        self._thread.join(timeout=5)
        return self.peak_kb / 1024.0


def environment(spark) -> dict:
    return {
        "nproc": os.cpu_count(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "spark": spark.version,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "python": sys.version.split()[0],
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    try:
        spec = _bench_spec()
        import ws_to_kafka_spark  # noqa: F401
    except (OSError, ImportError) as exc:
        print(f"perfbench: cannot run here: {exc}", file=sys.stderr)
        return 2

    _prepare_env()
    from tracing import Tracer

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    tracer = Tracer(run_id, enabled=bool(args.trace))
    from feed import Feed
    from ws import StreamRun

    sampler = spark = None
    with Feed(args.seed) as feed:  # the load generator, outside the measured tree
        try:
            sampler = MemorySampler(exclude={feed.proc.pid}).start()
            with tracer.span("session.start"):
                t = time.perf_counter()
                from ws_to_kafka_spark.session import get_spark

                spark = get_spark("perfbench")
                spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
                session_s = time.perf_counter() - t
            env = environment(spark)
            run = StreamRun(spark, feed, args.workload, args.seed, args.seconds, OUT_DIR, tracer)
            with tracer.span("setup"):
                run.setup(_T_PROCESS)
            from bench import host_sentinel  # imports the registry: after set-up

            env["sentinel_pre_s"] = host_sentinel(spark, warm=True)
            with tracer.span("measure"):
                e2e, layer = run.measure()
            peak_mb = sampler.stop()  # the system's memory, not the checks'
            env["sentinel_post_s"] = host_sentinel(spark)
            with tracer.span("check"):
                attempted, failed, notes = run.check()
            if args.trace:
                from probes import run_probes
                from registry import probe_registry

                layer.update(run_probes(feed, args.seed, tracer))
                reg_layer, reg_attempted, reg_failed, reg_notes = probe_registry(
                    spark, args.seed, OUT_DIR, tracer
                )
                layer.update(reg_layer)
                attempted += reg_attempted
                failed += reg_failed
                notes += reg_notes
        finally:
            if spark is not None:
                spark.stop()
                _stop_jvm()
            if sampler is not None:
                sampler.stop()

    e2e["peak_rss_mb"] = peak_mb
    layer["session.start_s"] = session_s
    layer["host.sentinel_s"] = env["sentinel_pre_s"]
    names = [m["name"] for m in spec["end_to_end" if not args.trace else "per_layer"]]
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    values = e2e if not args.trace else layer
    missing = [n for n in names if n not in values]
    if missing:
        print(f"perfbench: metrics not produced: {missing}", file=sys.stderr)
        return 3

    failed_ratio = failed / attempted
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "env": env, "failed_ratio": failed_ratio,
        "memory_at_peak_mb": sampler.at_peak_mb,
        "notes": notes, "end_to_end": e2e, "per_layer": layer,
    }
    if args.trace:
        untraced = _last_untraced(args.workload)
        if untraced is not None:
            record["tracing_overhead"] = {
                k: e2e[k] - untraced[k] for k in untraced if k in e2e
            }
        tracer.dump(os.path.join(OUT_DIR, f"trace-{run_id}.json"),
                    {"progress": run.progress, "env": env,
                     "tracing_overhead": record.get("tracing_overhead")})
    with open(os.path.join(OUT_DIR, f"result-{args.workload}-t{args.trace}.json"), "w") as fh:
        json.dump(record, fh, indent=1)

    print(f"# env {json.dumps(env)}")
    for note in notes:
        print(f"# check failed: {note}")
    print(f"# failed_ratio {failed_ratio:.6f} ({failed}/{attempted})")
    for n in [m["name"] for m in spec["end_to_end"]]:
        if n in e2e:
            print(f"# {n} {e2e[n]:.6g} {units[n]}")
    if args.trace:
        for k, v in (record.get("tracing_overhead") or {}).items():
            print(f"# tracing overhead {k} {v:+.6g} {units.get(k, '')}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {n: {"value": float(values[n]), "unit": units[n]} for n in names},
    }))
    return 0


def _stop_jvm() -> None:
    """End the JVM that PySpark launched and wait for it: ``spark.stop()``
    stops the context but leaves the gateway process running until this
    interpreter exits."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is None or proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=20)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def _last_untraced(workload: str) -> dict | None:
    path = os.path.join(OUT_DIR, f"result-{workload}-t0.json")
    try:
        with open(path) as fh:
            return json.load(fh)["end_to_end"]
    except (OSError, ValueError, KeyError):
        return None


if __name__ == "__main__":
    raise SystemExit(main())
