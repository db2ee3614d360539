"""Superstep checkpoint + resume + iteration metrics.

Iterative DataFrame jobs have two failure modes the reference never faced:

1. **Lineage blow-up** — each superstep's plan nests the previous one; by
   iteration 40 analysis time dominates. The reference double-buffers two
   device arrays (/root/reference/kernel_bblock.cu:1082); our analogue is a
   per-superstep checkpoint that truncates lineage.
2. **Job death mid-run** — the north rule requires resume from the last
   committed superstep with per-partition lineage + metrics.

Two modes:
* ``dir=None``  -> ``localCheckpoint(eager=True)`` (fast, in-memory, no resume)
* ``dir=path``  -> parquet write per superstep (``<dir>/ranks/iter=K``) with
  parquet's atomic ``_SUCCESS`` marker as the commit point, plus a metrics
  row appended to ``<dir>/metrics`` recording iteration, L1 diff, dangling
  mass, wall ms, and per-partition row counts (the partition lineage).

In both modes ``save()`` is the one materialization of a round: the round
loop (plans/fixpoint.py) observes its convergence scalars on that same
job, and a dir-backed round is read back from the parquet it just wrote.
"""

from __future__ import annotations

import json
import os
import shutil
import warnings
from typing import Any

from pyspark.sql import DataFrame, SparkSession

class SuperstepCheckpointer:
    def __init__(self, spark: SparkSession, directory: str | None = None,
                 track_partition_lineage: bool = True):
        self.spark = spark
        self.dir = directory
        self.track_partition_lineage = track_partition_lineage and directory is not None
        self.metrics: list[dict[str, Any]] = []
        if self.dir:
            os.makedirs(os.path.join(self.dir, "ranks"), exist_ok=True)

    # -- checkpoint -------------------------------------------------------

    def _iter_path(self, iteration: int) -> str:
        return os.path.join(self.dir, "ranks", f"iter={iteration}")

    def reset(self) -> None:
        """Retire all committed supersteps and metrics. A FRESH dir-backed
        run must call this: otherwise higher-numbered checkpoints from a
        previous run in the same directory survive, and a later resume
        would silently load the OLD run's state (and metrics.jsonl would
        interleave runs).

        Destruction is NOT silent: a non-empty previous run is moved aside
        to ``ranks.old`` / ``metrics.jsonl.old`` (one generation kept) with
        a warning, so an operator who meant ``resume=True`` but forgot can
        still recover the state this checkpointer exists to protect."""
        if self.dir is None:
            self.metrics = []
            return
        base = os.path.join(self.dir, "ranks")
        if os.path.isdir(base) and os.listdir(base):
            old = base + ".old"
            if os.path.isdir(old):
                shutil.rmtree(old)
            os.replace(base, old)
            warnings.warn(
                f"SuperstepCheckpointer: fresh run over non-empty checkpoint "
                f"dir {self.dir!r}; previous run moved to {old!r} (pass "
                f"resume=True to continue it instead)", stacklevel=3)
        os.makedirs(base, exist_ok=True)
        m = os.path.join(self.dir, "metrics.jsonl")
        if os.path.exists(m):
            os.replace(m, m + ".old")
        self.metrics = []

    def save(self, iteration: int, ranks: DataFrame) -> DataFrame:
        """Materialize this superstep's ranks and return a lineage-free DF.

        The read-back takes the schema from ``ranks`` instead of inferring it
        from the footers, which would cost a Spark job per round; a file
        source makes every field nullable, so the result is the schema
        ``load`` infers."""
        if self.dir is None:
            return ranks.localCheckpoint(eager=True)
        path = self._iter_path(iteration)
        ranks.write.mode("overwrite").parquet(path)
        return self.spark.read.schema(ranks.schema).parquet(path)

    def record(self, iteration: int, ranks: DataFrame, **metric: Any) -> dict[str, Any]:
        """Append one metrics row (the telemetry sink S4 of the reference,
        /root/reference/for_test.h:51-85, re-expressed as a metrics table).

        Partition lineage comes from the just-committed parquet files'
        FOOTERS (driver-side metadata reads, O(partitions)), not from a
        second full scan-aggregate job over the data — the write itself is
        the source of truth for what each partition holds."""
        row: dict[str, Any] = {"iteration": iteration, **metric}
        if self.track_partition_lineage:
            row.update(self._partition_lineage(iteration))
        self.metrics.append(row)
        if self.dir:
            with open(os.path.join(self.dir, "metrics.jsonl"), "a") as f:
                f.write(json.dumps(row) + "\n")
        return row

    def _partition_lineage(self, iteration: int) -> dict[str, Any]:
        """{n_partitions, partition_rows} from the committed part files.

        Part file names carry the writer task's partition index
        (``part-00007-...``); row counts come from the parquet footer —
        no executor work at all."""
        import pyarrow.parquet as pq
        path = self._iter_path(iteration)
        counts: dict[int, int] = {}
        for name in sorted(os.listdir(path)):
            if not name.startswith("part-") or name.endswith(".crc"):
                continue
            pid = int(name.split("-")[1])
            counts[pid] = pq.read_metadata(os.path.join(path, name)).num_rows
        return {"n_partitions": len(counts),
                "partition_rows": json.dumps(counts)}

    # -- resume -----------------------------------------------------------

    def last_committed(self) -> int | None:
        """Highest iteration whose parquet commit marker exists."""
        if self.dir is None:
            return None
        base = os.path.join(self.dir, "ranks")
        best = None
        if os.path.isdir(base):
            for name in os.listdir(base):
                if name.startswith("iter=") and os.path.exists(
                    os.path.join(base, name, "_SUCCESS")
                ):
                    k = int(name.split("=", 1)[1])
                    best = k if best is None or k > best else best
        return best

    def load(self, iteration: int) -> DataFrame:
        return self.spark.read.parquet(self._iter_path(iteration))

    def load_metrics(self) -> list[dict[str, Any]]:
        if self.dir and os.path.exists(os.path.join(self.dir, "metrics.jsonl")):
            with open(os.path.join(self.dir, "metrics.jsonl")) as f:
                return [json.loads(line) for line in f if line.strip()]
        return self.metrics

