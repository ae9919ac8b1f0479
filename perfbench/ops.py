"""The three workloads' operations and their checks against ground truth.

Every timed operation carries a ``DataFrame.observe`` of its row count and
``sum(id)``. Full checksums (tag pairs, refs, members, quantized lat/lon)
run as separate Spark jobs, untimed, and are compared with the values the
generator computed from its own arrays.
"""

from __future__ import annotations

import gc
import os
import shutil

from pyspark.sql import Observation
from pyspark.sql import functions as F

WORKLOADS = ("scan_tagged_nodes", "scan_ways_relations", "write_tagged_nodes")

# Per-object sums of each primitive's full checksum. ``checksum`` adds the
# tag pair count and a CRC32 sum over ``key=value``.
ROW_SUMS = {
    "node": {
        "rows": "1", "sum_id": "id",
        "sum_lat7": "CAST(round(lat * 1e7) AS BIGINT)",
        "sum_lon7": "CAST(round(lon * 1e7) AS BIGINT)",
    },
    "way": {
        "rows": "1", "sum_id": "id", "refs": "size(refs)",
        "sum_refs": "aggregate(refs, CAST(0 AS BIGINT), (a, r) -> a + r)",
    },
    "relation": {
        "rows": "1", "sum_id": "id", "members": "size(members)",
        "sum_member_refs":
            "aggregate(members, CAST(0 AS BIGINT), (a, m) -> a + m.ref)",
        "member_crc": "aggregate(members, CAST(0 AS BIGINT), (a, m) -> a + "
                      "crc32(concat(coalesce(m.role, ''), '|', m.type)))",
    },
}


def collect_garbage(spark) -> None:
    """Untimed, before each operation: start every one from collected
    Python and JVM heaps, so that no operation pays for its predecessors'
    garbage."""
    gc.collect()
    spark.sparkContext._jvm.System.gc()


class Mismatch(Exception):
    """An operation's output differs from the generator's ground truth."""


def checksum(df, kind: str) -> dict:
    """One Spark job: the tags are exploded (one row per pair, or one row of
    nulls for an object without tags) and each object's own sums are taken
    on its first row only."""
    pairs = df.selectExpr(
        "*", "posexplode_outer(tags) AS (tag_pos, tag_key, tag_value)")
    first = "coalesce(tag_pos, 0) = 0"
    row = pairs.selectExpr(
        *[f"sum(IF({first}, {e}, 0)) AS {k}" for k, e in ROW_SUMS[kind].items()],
        "count(tag_key) AS tag_pairs",
        "sum(crc32(concat(tag_key, '=', tag_value))) AS tag_crc",
    ).collect()[0]
    return {k: (0 if v is None else int(v)) for k, v in row.asDict().items()}


def expect(got: dict, want: dict, what: str) -> None:
    bad = {k: (got.get(k), v) for k, v in want.items() if got.get(k) != v}
    if bad:
        raise Mismatch(f"{what}: (got, want) {bad}")


class Workload:
    """Builds one workload's timed operation on a live session.

    ``inputs`` holds the generated paths, the per-primitive
    ``partition_target_bytes`` and the ground truth (see run.make_inputs).
    """

    def __init__(self, name: str, spark, inputs: dict):
        if name not in WORKLOADS:
            raise ValueError(f"unknown workload {name!r}; one of {WORKLOADS}")
        self.name, self.spark, self.inputs = name, spark, inputs
        self.truth = inputs["truth"]
        self._seq = 0

    # ----------------------------------------------------------- dataframes
    def scan(self, primitive: str):
        return (
            self.spark.read.format("osmpbf")
            .option("path", self.inputs["extract"])
            .option("primitive", primitive)
            .option("partition_target_bytes",
                    str(self.inputs["targets"][primitive]))
            .load()
        )

    def image(self):
        return self.spark.read.parquet(self.inputs["image"])

    @property
    def primitives(self) -> tuple[str, ...]:
        return {
            "scan_tagged_nodes": ("node",),
            "scan_ways_relations": ("way", "relation"),
            "write_tagged_nodes": ("tagged_node",),
        }[self.name]

    @property
    def rows_per_op(self) -> int:
        return sum(self.truth[p]["rows"] for p in self.primitives)

    # ------------------------------------------------------------ operation
    def _observed(self, df, primitive: str, sink) -> None:
        obs = Observation(f"op{self._seq}_{primitive}")
        self._seq += 1
        sink(df.observe(obs, F.count(F.lit(1)).alias("rows"),
                        F.sum("id").alias("sum_id")))
        want = self.truth[primitive]
        expect({k: int(v or 0) for k, v in obs.get.items()},
               {"rows": want["rows"], "sum_id": want["sum_id"]},
               f"observed {primitive}")

    def out_dir(self, seq: int) -> str:
        return os.path.join(self.inputs["work"], "out", f"op{seq}")

    def op(self, seq: int) -> None:
        """One timed operation. Raises on any failure or wrong output."""
        if self.name == "write_tagged_nodes":
            out = self.out_dir(seq)

            def sink(df):
                df.write.format("osmpbf").option("primitive", "node") \
                    .mode("overwrite").save(out)

            self._observed(self.image(), "tagged_node", sink)
            return

        def noop(df):
            df.write.format("noop").mode("overwrite").save()

        for p in self.primitives:
            self._observed(self.scan(p), p, noop)

    def after_op(self, seq: int) -> int:
        """Untimed: verify a write by reading it back; returns bytes written
        (0 for scans) and removes the output."""
        if self.name != "write_tagged_nodes":
            return 0
        out = self.out_dir(seq)
        try:
            back = self.spark.read.format("osmpbf").option("path", out) \
                .option("primitive", "node").load()
            expect(checksum(back, "node"), self.truth["tagged_node"],
                   "write read-back")
            return sum(os.path.getsize(os.path.join(out, f))
                       for f in os.listdir(out) if f.endswith(".osm.pbf"))
        finally:
            shutil.rmtree(out, ignore_errors=True)

    def full_check(self) -> None:
        """Untimed full checksums of the workload's input."""
        if self.name == "write_tagged_nodes":
            expect(checksum(self.image(), "node"), self.truth["tagged_node"],
                   "image checksum")
            return
        for p in self.primitives:
            expect(checksum(self.scan(p), p), self.truth[p], f"{p} checksum")
