"""The traced run: split every Spark number into a per-layer ledger.

Three parts, all on the seed's inputs, for all three paths (node scan,
way + relation scan, node write), so every per-layer metric is measured on
every workload:

1. Planning on the timed extract: ``decode.index_blocks`` and
   ``OsmPbfReader.partitions`` with the workloads' reader options.
2. In-process replay on the base extract (one copy of the repeated blocks)
   under ``trace.LayerTracer``: ``OsmPbfReader.read`` per primitive and
   ``OsmPbfWriter.write`` fed the tagged nodes as Rows. Each is also run
   untraced, which gives the reader's and writer's CPU per row and the
   tracing overhead.
3. Spark arms on the timed inputs, in three groups: the real node scan
   with the null read source serving the reader's own Arrow batches on the
   reader's own partitions; the same for the way + relation scan; the real
   write with the null rows and Arrow writers fed the parquet image. A
   group runs a warm-up round, then ``ARM_REPS`` rounds, each running every
   arm of the group once, so that a real arm and its null arm see the same
   host regime; each arm reports the median of its rounds. Their
   process-tree CPU per row, set against the in-process reader and writer,
   gives the share outside the engine.
"""

from __future__ import annotations

import json
import os
import statistics
import time

from perfbench import host, ops
from perfbench.trace import LayerTracer, Recorder, self_times, total_times

PRIMS = ("node", "way", "relation")
IN_PROCESS_REPS = 3  # in-process passes; per-layer times are their medians
ARM_REPS = 3  # measured rounds per group of Spark arms, after one warm-up


def _reader(path: str, primitive: str, target: int):
    from osmpbf_spark.sources.pbf.datasource import OsmPbfDataSource

    ds = OsmPbfDataSource({"path": path, "primitive": primitive,
                           "partition_target_bytes": str(target)})
    schema = ds.schema()
    return ds.reader(schema), schema


def _med(values):
    return statistics.median(values)


def plan_metrics(inputs: dict) -> tuple[dict, dict]:
    """Planning costs and counts on the timed extract; also returns, per
    primitive, each partition's block positions within that primitive's
    section of the file (for the null read source)."""
    from osmpbf_spark.sources.pbf import decode

    times = []
    for _ in range(5):
        t0 = time.perf_counter()
        index = decode.index_blocks(inputs["extract"])
        times.append(time.perf_counter() - t0)
    data = [m for m in index if m.block_type == "OSMData"]
    kind_bit = {"node": 1, "way": 2, "relation": 4}
    position = {}
    for p, bit in kind_bit.items():
        offs = [m.data_offset for m in data if m.stats["kinds"] == bit]
        position[p] = {off: i for i, off in enumerate(offs)}
    parts_total = pruned = 0
    layout = {}
    for p in PRIMS:
        rdr, _ = _reader(inputs["extract"], p, inputs["targets"][p])
        parts = rdr.partitions()
        parts_total += len(parts)
        pruned += len(data) - sum(len(x.ranges) for x in parts)
        layout[p] = [[position[p][off] for off, _ in x.ranges] for x in parts]
    return {
        "plan.index_s": (_med(times), "s"),
        "plan.blocks": (len(data), "count"),
        "plan.partitions": (parts_total, "count"),
        "plan.blocks_pruned": (pruned, "count"),
    }, layout


def _base_rows(inputs: dict):
    from pyspark.sql import Row

    base = inputs["base"]
    return [
        Row(id=int(base["ids"][i]), lat=float(base["lat7"][i] * 1e-7),
            lon=float(base["lon7"][i] * 1e-7), tags=dict(base["tags"][i]))
        for i in range(len(base["ids"])) if base["tags"][i]
    ]


def _writer(out: str):
    from pyspark.sql.types import (DoubleType, LongType, MapType, StringType,
                                   StructField, StructType)

    from osmpbf_spark.sources.pbf.datasource import OsmPbfWriter

    schema = StructType([
        StructField("id", LongType(), False),
        StructField("lat", DoubleType(), False),
        StructField("lon", DoubleType(), False),
        StructField("tags", MapType(StringType(), StringType()), False),
    ])
    return OsmPbfWriter({"path": out, "primitive": "node"}, schema, False)


def in_process_once(inputs: dict) -> tuple[dict, dict, dict]:
    """One untraced and one traced pass over the base extract.

    Returns (untraced {path: (wall, cpu, rows)}, recorder, Arrow batches by
    primitive)."""
    base_path = inputs["base_extract"]
    work = inputs["work"]
    untraced: dict[str, tuple[float, float, int]] = {}
    batches: dict[str, list] = {}
    readers = {}
    for p in PRIMS:
        rdr, _ = _reader(base_path, p, 1)
        parts = rdr.partitions()
        readers[p] = (rdr, parts)
        w0, c0 = time.perf_counter(), time.process_time()
        batches[p] = [b for part in parts for b in rdr.read(part)]
        untraced[p] = (time.perf_counter() - w0, time.process_time() - c0,
                       sum(b.num_rows for b in batches[p]))
    rows = _base_rows(inputs)
    w0, c0 = time.perf_counter(), time.process_time()
    _writer(os.path.join(work, "ledger_untraced")).write(iter(rows))
    untraced["writer"] = (time.perf_counter() - w0, time.process_time() - c0,
                          len(rows))

    rec = Recorder()
    with LayerTracer(rec):
        for p in PRIMS:
            rdr, parts = readers[p]
            for part in parts:
                with rec.span(f"reader.{p}"):
                    for _ in rdr.read(part):
                        pass
        _writer(os.path.join(work, "ledger_traced")).write(iter(rows))
    return untraced, rec, batches


def in_process_metrics(untraced: dict, rec: Recorder) -> dict:
    st, tt, c = self_times(rec.spans), total_times(rec.spans), rec.counts

    def per_mrow(seconds, rows):
        return seconds / (rows / 1e6) if rows else 0.0

    def reader(prims):
        rows = sum(untraced[p][2] for p in prims)
        own = sum(st.get(f"reader.{p}", 0.0) for p in prims)
        total = sum(tt.get(f"reader.{p}", 0.0) for p in prims)
        return (per_mrow(sum(untraced[p][1] for p in prims), rows),
                own / total if total else 0.0)

    n_cpu, n_un = reader(("node",))
    wr_cpu, wr_un = reader(("way", "relation"))
    w_rows = untraced["writer"][2]
    traced_wall = sum(tt.get(f"reader.{p}", 0.0) for p in PRIMS) + tt["writer"]
    untraced_wall = sum(untraced[k][0] for k in untraced)
    return {
        "inflate.s_per_mb": (st["inflate"] / (c["inflate.bytes_out"] / 1e6), "s/MB"),
        "inflate.bytes_in": (c["inflate.bytes_in"], "B"),
        "inflate.bytes_out": (c["inflate.bytes_out"], "B"),
        "parse.s_per_block": (st["parse"] / c["parse.blocks"], "s/block"),
        "parse.strings": (c["parse.strings"], "count"),
        "decode.nodes_s_per_mrow": (per_mrow(st["decode.nodes"], c["decode.node_rows"]), "s/Mrow"),
        "decode.node_rows": (c["decode.node_rows"], "count"),
        "decode.tag_pairs": (c["decode.node_tag_pairs"], "count"),
        "decode.ways_s_per_mrow": (per_mrow(st["decode.ways"], c["decode.way_rows"]), "s/Mrow"),
        "decode.relations_s_per_mrow": (per_mrow(st["decode.relations"], c["decode.relation_rows"]), "s/Mrow"),
        "decode.way_refs": (c["decode.way_refs"], "count"),
        "decode.members": (c["decode.members"], "count"),
        "batch.s_per_mrow": (per_mrow(st["batch"], c["batch.rows"]), "s/Mrow"),
        "batch.arrow_bytes_per_row": (c["batch.arrow_bytes"] / c["batch.rows"], "B/row"),
        "reader.nodes.cpu_s_per_mrow": (n_cpu, "s/Mrow"),
        "reader.nodes.unattributed_frac": (n_un, "frac"),
        "reader.ways_relations.cpu_s_per_mrow": (wr_cpu, "s/Mrow"),
        "reader.ways_relations.unattributed_frac": (wr_un, "frac"),
        "writer.s_per_mrow": (per_mrow(tt["writer"], w_rows), "s/Mrow"),
        "writer.cpu_s_per_mrow": (per_mrow(untraced["writer"][1], w_rows), "s/Mrow"),
        "encode.s_per_mrow": (per_mrow(st["encode"], w_rows), "s/Mrow"),
        "encode.bytes_per_row": (c["encode.bytes"] / w_rows, "B/row"),
        "trace.overhead_frac": (traced_wall / untraced_wall - 1.0, "frac"),
    }


def save_batches(batches: dict, work: str) -> dict:
    import pyarrow as pa

    paths = {}
    for p, bs in batches.items():
        path = os.path.join(work, f"null_{p}.arrow")
        with pa.OSFile(path, "wb") as sink, \
                pa.ipc.new_file(sink, bs[0].schema) as w:
            for b in bs:
                w.write_batch(b)
        paths[p] = path
    return paths


class Arms:
    """Spark operations of the ledger, each verified and counted in ``run``."""

    def __init__(self, wl, run):
        self.spark, self.inputs, self.run = wl.spark, wl.inputs, run
        self.truth = wl.inputs["truth"]
        self._gid = 0

    def measure(self, *arms) -> list[tuple[float, int]]:
        """Interleaved arms, each ``(fn, rows)`` or ``(fn, rows, after)``:
        a warm-up round, then ``ARM_REPS`` rounds that run every arm once.
        Returns per arm (median CPU s per Mrow, tasks per operation).
        ``after`` runs untimed after each successful operation."""
        sc = self.spark.sparkContext
        cpus: list[list[float]] = [[] for _ in arms]
        tasks: list[list[int]] = [[] for _ in arms]
        for i in range(ARM_REPS + 1):
            for k, (fn, _rows, *after) in enumerate(arms):
                gid = f"ledger-{self._gid}"
                self._gid += 1
                sc.setJobGroup(gid, gid)
                ops.collect_garbage(self.spark)
                cpu0 = host.tree_cpu_s()
                self.run.attempted += 1
                try:
                    fn()
                    cpu = host.tree_cpu_s() - cpu0
                    n = self._tasks(gid)
                    if after:
                        after[0]()
                except Exception as exc:
                    self.run.failed += 1
                    self.run.fail(gid, exc)
                    continue
                if i:  # the first round is the warm-up
                    cpus[k].append(cpu)
                    tasks[k].append(n)
        return [(_med(c) / (arm[1] / 1e6), max(t)) if c else (0.0, 0)
                for arm, c, t in zip(arms, cpus, tasks)]

    def _tasks(self, gid: str) -> int:
        """Tasks of the job group's jobs. Spark's status store is fed by
        an asynchronous listener queue, so read until two readings 0.1 s
        apart agree and every job has succeeded."""
        tracker = self.spark.sparkContext.statusTracker()

        def reading():
            n, done = 0, True
            for j in tracker.getJobIdsForGroup(gid):
                info = tracker.getJobInfo(j)
                done = done and info is not None and info.status == "SUCCEEDED"
                for s in info.stageIds if info else ():
                    stage = tracker.getStageInfo(s)
                    n += stage.numTasks if stage else 0
            return n, done

        last = reading()
        for _ in range(50):
            time.sleep(0.1)
            now = reading()
            if now == last and now[1]:
                break
            last = now
        return last[0]

    def observed(self, df, want: dict, sink) -> None:
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        obs = Observation(f"ledger{self._gid}")
        sink(df.observe(obs, F.count(F.lit(1)).alias("rows"),
                        F.sum("id").alias("sum_id")))
        ops.expect({k: int(v or 0) for k, v in obs.get.items()},
                   {"rows": want["rows"], "sum_id": want["sum_id"]},
                   "ledger observed")

    def null_read(self, primitive: str, ipc: str, layout: list, schema_json: str):
        df = (self.spark.read.format("perfbench_null")
              .option("schema_json", schema_json).option("ipc_path", ipc)
              .option("plan_json", json.dumps(layout)).load())
        self.observed(df, self.truth[primitive], _noop)

    def null_write(self, mode: str):
        img = self.spark.read.parquet(self.inputs["image"])
        self.observed(img, self.truth["tagged_node"],
                      lambda df: df.write.format("perfbench_null")
                      .option("mode", mode).mode("append").save())


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def run(wl, run_state) -> tuple[dict, dict]:
    """The whole ledger; ``run_state`` counts its operations."""
    inputs = wl.inputs
    metrics, layout = plan_metrics(inputs)

    per_rep, batches = [], None
    for _ in range(IN_PROCESS_REPS):
        untraced, rec, batches = in_process_once(inputs)
        per_rep.append(in_process_metrics(untraced, rec))
    for name, (_, unit) in per_rep[0].items():
        metrics[name] = (_med([r[name][0] for r in per_rep]), unit)

    ipc = save_batches(batches, inputs["work"])
    nb = {p: len(batches[p]) for p in PRIMS}
    schemas = {p: _reader(inputs["base_extract"], p, 1)[1].json() for p in PRIMS}
    truth = inputs["truth"]
    arms = Arms(wl, run_state)

    nodes = ops.Workload("scan_tagged_nodes", wl.spark, inputs)
    ways = ops.Workload("scan_ways_relations", wl.spark, inputs)
    write = ops.Workload("write_tagged_nodes", wl.spark, inputs)
    seq = iter(range(10**6))
    written: dict[str, int] = {}

    def write_op():
        written["seq"] = next(seq)
        write.op(written["seq"])

    def write_check():
        out = write.out_dir(written["seq"])
        written["files"] = sum(1 for f in os.listdir(out)
                               if f.endswith(".osm.pbf"))
        written["bytes"] = write.after_op(written["seq"])

    def null_reads(prims):
        for p in prims:
            plan = [[i % nb[p] for i in part] for part in layout[p]]
            arms.null_read(p, ipc[p], plan, schemas[p])

    n_rows = truth["node"]["rows"]
    wr_rows = truth["way"]["rows"] + truth["relation"]["rows"]
    t_rows = truth["tagged_node"]["rows"]
    (e2e_n, tasks_n), (tr_n, _) = arms.measure(
        (lambda: nodes.op(next(seq)), n_rows),
        (lambda: null_reads(("node",)), n_rows))
    (e2e_wr, tasks_wr), (tr_wr, _) = arms.measure(
        (lambda: ways.op(next(seq)), wr_rows),
        (lambda: null_reads(("way", "relation")), wr_rows))
    (e2e_w, tasks_w), (wt_rows, _), (wt_arrow, _) = arms.measure(
        (write_op, t_rows, write_check),
        (lambda: arms.null_write("rows"), t_rows),
        (lambda: arms.null_write("arrow"), t_rows))

    def outside(inner, whole):
        return 1.0 - inner / whole if whole else 0.0

    metrics.update({
        "transfer.nodes.cpu_s_per_mrow": (tr_n, "s/Mrow"),
        "transfer.ways_relations.cpu_s_per_mrow": (tr_wr, "s/Mrow"),
        "spark.nodes.tasks": (tasks_n, "count"),
        "spark.ways_relations.tasks": (tasks_wr, "count"),
        "e2e.nodes.cpu_s_per_mrow": (e2e_n, "s/Mrow"),
        "e2e.ways_relations.cpu_s_per_mrow": (e2e_wr, "s/Mrow"),
        "e2e.write.cpu_s_per_mrow": (e2e_w, "s/Mrow"),
        "ledger.nodes.outside_reader_frac": (
            outside(metrics["reader.nodes.cpu_s_per_mrow"][0], e2e_n), "frac"),
        "ledger.ways_relations.outside_reader_frac": (
            outside(metrics["reader.ways_relations.cpu_s_per_mrow"][0], e2e_wr),
            "frac"),
        "ledger.write.outside_writer_frac": (
            outside(metrics["writer.cpu_s_per_mrow"][0], e2e_w), "frac"),
        "write_transfer.rows_cpu_s_per_mrow": (wt_rows, "s/Mrow"),
        "write_transfer.arrow_cpu_s_per_mrow": (wt_arrow, "s/Mrow"),
        "write.tasks": (tasks_w, "count"),
        "write.files": (written.get("files", 0), "count"),
        "write.out_bytes_per_row": (written.get("bytes", 0) / t_rows, "B/row"),
    })
    return metrics, {"spans_recorded": len(rec.spans)}
