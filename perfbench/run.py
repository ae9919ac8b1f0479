"""PBF engine benchmark: one command, one workload, one result line.

    python3 perfbench/run.py --workload scan_tagged_nodes --seed 1 \
        --seconds 7 --trace 0

Generates a seeded tagged OSM extract (perfbench/gen.py), starts the engine
session with ``osmpbf_spark.session.get_spark`` on ``local[nproc]`` and
drives the workload with one closed-loop client: the next operation starts
when the previous one has finished, until ``--seconds`` have passed. Every
operation is checked against the generator's ground truth. With
``--trace 1`` it runs the layer ledger instead (perfbench/ledger.py).

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. The lines before it
print each metric by name and unit, the error rate, and the host regime
(load, steal, co-tenant share, a calibration probe at start and end), which
is recorded beside the metrics and never used to scale one.

Workloads are documented in perfbench/WORKLOADS.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import gen, host, ops  # noqa: E402

# Base extract drawn per seed, and how many times each primitive's blocks
# repeat: the timed extract holds 4.0M nodes (40 MB), 24k ways and 1920
# relations; the parquet image of tagged nodes (write_tagged_nodes and the
# ledger's write arm) about 115k rows.
BASE_NODES = 24_000
COPIES = {"node": 167, "way": 8, "relation": 8, "tagged_node": 24}
SETUPS = 2  # cold set-ups per run, each in a new JVM; setup_s is their median
# Checked but untimed operations between the start checksum and the timed
# window: the JVM's CPU per operation falls by about 3x over its first few
# operations (JIT), which the first timed operations would otherwise sample.
WARMUP_OPS = 1


def slots() -> int:
    return len(os.sched_getaffinity(0))


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _prepare_env(work: str) -> None:
    """Keep every file Spark, the JVM and the workers write inside ``work``
    and let the workers import this checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(":") if p]
    os.environ["PYTHONPATH"] = ":".join(paths)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")  # JVM heap cap
    # every JVM, the launcher's too: temp files in ``tmp``, no hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, [
        os.environ.get("JAVA_TOOL_OPTIONS"),
        f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData"]))


def make_inputs(seed: int, work: str, image: bool = True) -> dict:
    """Generate the extract, its parquet image of tagged nodes (when
    ``image``), per-primitive ``partition_target_bytes`` and the ground
    truth."""
    base = gen.base_extract(seed, BASE_NODES)
    extract = os.path.join(work, "extract.osm.pbf")
    info = gen.write_extract(base, COPIES, extract)
    image_dir = os.path.join(work, "tagged_nodes.parquet")
    if image:
        gen.write_tagged_image(base, COPIES["tagged_node"], image_dir,
                               files=2 * slots())
    # about 2 x nproc partitions per primitive; 0.9 so that equal-sized
    # blocks never spill one block into an extra partition
    targets = {p: max(1, int(0.9 * b / (2 * slots())))
               for p, b in info["bytes"].items()}
    return {"work": work, "extract": extract, "base_extract": info["base_path"],
            "image": image_dir, "targets": targets, "truth": gen.truth(base, COPIES),
            "base": base, "file_bytes": info["file_bytes"]}


def _stop(spark) -> None:
    """Stop the session, the JVM behind it and every process under us."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while host.descendants() and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in host.descendants():
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass
    while host.descendants() and time.monotonic() < deadline + 5:
        time.sleep(0.1)


class Run:
    def __init__(self, args):
        self.args = args
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.correct = True
        self.walls: list[float] = []
        self.cpus: list[float] = []

    def fail(self, what: str, exc: BaseException) -> None:
        self.correct = False
        self.errors.append(f"{what}: {type(exc).__name__}: {str(exc)[:300]}")

    def setup(self, inputs: dict):
        """One set-up: session start, source registration, the first plan
        and a warm-up operation (one of the workload's own operations,
        checked but not counted). Returns (spark, workload, seconds)."""
        from osmpbf_spark.session import get_spark
        from perfbench import nullsrc

        t0 = time.perf_counter()
        spark = get_spark("perfbench", cpus=slots())
        nullsrc.register(spark)
        wl = ops.Workload(self.args.workload, spark, inputs)
        try:
            wl.op(-1)
            dt = time.perf_counter() - t0
            wl.after_op(-1)
        except Exception as exc:  # recorded; the run goes on to report it
            dt = time.perf_counter() - t0
            self.fail("warm-up", exc)
        return spark, wl, dt

    def one_op(self, wl):
        """One checked operation; returns its (wall, process-tree CPU)
        seconds, or None when it failed (counted, never timed)."""
        ops.collect_garbage(wl.spark)
        cpu0 = host.tree_cpu_s()
        t0 = time.perf_counter()
        self.attempted += 1
        seq = self.attempted
        try:
            wl.op(seq)
            wall = time.perf_counter() - t0
            cpu = host.tree_cpu_s() - cpu0
            wl.after_op(seq)  # untimed: a write's read-back
        except Exception as exc:
            self.failed += 1
            self.fail(f"op {seq}", exc)
            return None
        return wall, cpu

    def closed_loop(self, wl) -> None:
        """``WARMUP_OPS`` checked operations, then timed ones until
        ``--seconds`` have passed; each verified timed one records its wall
        and process-tree CPU time."""
        for _ in range(WARMUP_OPS):
            self.one_op(wl)
        deadline = time.perf_counter() + self.args.seconds
        while time.perf_counter() < deadline:
            timed = self.one_op(wl)
            if timed is not None:
                self.walls.append(timed[0])
                self.cpus.append(timed[1])


def main(argv=None, damage=None) -> int:
    """``damage(inputs, workload)``, if given, runs after the inputs are
    generated and before the first set-up (the self-tests corrupt them)."""
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a SIGTERM unwinds through the ``finally`` below, which stops the JVM
    # and every process under this one
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if args.workload not in ops.WORKLOADS:
        ap.error(f"--workload must be one of {ops.WORKLOADS}")
    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _prepare_env(work)
    run = Run(args)
    spark = None
    try:
        regime0 = host.regime_sample()
        probe0 = host.calibration_probe_ms()
        t0 = time.perf_counter()
        inputs = make_inputs(
            args.seed, work,
            image=bool(args.trace) or args.workload == "write_tagged_nodes")
        gen_s = time.perf_counter() - t0
        if damage is not None:
            damage(inputs, args.workload)

        setup_s = []
        for _ in range(1 if args.trace else SETUPS):
            if spark is not None:
                _stop(spark)  # every set-up launches its own JVM
                spark = None
            spark, wl, dt = run.setup(inputs)
            setup_s.append(dt)
        try:
            wl.full_check()
        except Exception as exc:
            run.fail("start checksum", exc)

        if args.trace:
            from perfbench import ledger

            metrics, extra = ledger.run(wl, run)
        else:
            run.closed_loop(wl)
            mrows = wl.rows_per_op / 1e6
            metrics = {
                "rows_per_s": (wl.rows_per_op / _median(run.walls)
                               if run.walls else 0.0, "rows/s"),
                "cpu_s_per_mrow": (_median(run.cpus) / mrows, "s/Mrow"),
                "worker_peak_rss_mb": (host.worker_peak_rss_mb(), "MB"),
                "setup_s": (_median(setup_s), "s"),
            }
            extra = {"op_walls_s": [round(w, 4) for w in run.walls],
                     "op_cpu_s": [round(c, 3) for c in run.cpus],
                     "setup_samples_s": [round(s, 4) for s in setup_s]}
        try:
            wl.full_check()
        except Exception as exc:
            run.fail("end checksum", exc)
        probe1 = host.calibration_probe_ms()
        regime = host.regime_delta(regime0, host.regime_sample())
        regime.update(probe_ms_start=round(probe0, 2), probe_ms_end=round(probe1, 2))
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)

    error_rate = run.failed / run.attempted if run.attempted else 0.0
    for name, (value, unit) in metrics.items():
        print(f"{args.workload} {name} = {value:.6g} {unit}")
    print(f"{args.workload} error_rate = {error_rate:.6g} "
          f"({run.failed} of {run.attempted} operations)")
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "slots": slots(), "gen_s": round(gen_s, 3),
        "rows_per_op": wl.rows_per_op, "file_bytes": inputs["file_bytes"],
        "partition_target_bytes": inputs["targets"], "regime": regime,
        "errors": run.errors[:5], **extra,
    }))
    print(json.dumps({
        "correct": run.correct and run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
