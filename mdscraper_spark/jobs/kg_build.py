"""End-to-end KG build job with per-partition lineage and resume.

Stage pipeline (SURVEY.md §3.2), driven as one batch job:

  pages -> [extract] markdown_docs          resumable per url-host bucket
        -> [mine]    mentions, triples      narrow Arrow stages
        -> [link]    entity_links           broadcast (or salted) join
        -> [canon]   canonical_map          iterative CC
        -> [graph]   kg_nodes, kg_edges     shuffle agg + write

Resume contract (north rule: "resumable from checkpoint with
per-partition lineage + metrics"): the expensive extraction stage is
checkpointed at url-host-bucket granularity.  A restart reads the
buckets with an ok extract row from the lineage directory on the
driver and re-extracts only the others; writes are dynamic-partition
overwrites, so re-running a bucket is idempotent.  Downstream stages
are recomputed from the (then complete) markdown_docs table — they are
global (connected components cross every partition boundary) and cheap
relative to extraction.

Every stage commits through ``KgBuildJob._stage``; a lineage row's
``n_rows`` is the row count the stage's write committed (the snapshot
manifest's ``added_rows``), never a re-scan of the table.

Lineage is bookkeeping, not data: each append is one parquet file the
driver writes with pyarrow, under a hidden ``.part-<uuid>.parquet.tmp``
name that is then renamed to ``part-<uuid>.parquet``, so a reader sees
all of a call's rows or none, and no append runs a Spark job.  Spark
and pyarrow both skip hidden names, so a crash mid-append leaves
nothing readable behind.
"""

from __future__ import annotations

import datetime
import os
import time
import uuid
from typing import Callable, Optional, Sequence

import pyarrow as pa
import pyarrow.parquet as pq

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from mdscraper_spark.config import ExtractConfig
from mdscraper_spark.operators import kg as kg_ops
from mdscraper_spark.operators.extract_udfs import (extract_markdown,
                                                    with_doc_path)
from mdscraper_spark.sources import fixtures
from mdscraper_spark.sources.pages import with_part_id
from mdscraper_spark.sources.tables import Warehouse

LINEAGE_SCHEMA = StructType([
    StructField("run_id", StringType(), False),
    StructField("part_id", IntegerType(), False),
    StructField("stage", StringType(), False),
    StructField("status", StringType(), False),
    StructField("n_rows", LongType(), False),
    StructField("wall_ms", LongType(), False),
    StructField("ts", TimestampType(), False),
])
# ts is timestamp[us, tz=UTC], which Spark reads as TimestampType
LINEAGE_ARROW_SCHEMA = to_arrow_schema(LINEAGE_SCHEMA)

GLOBAL_PART = -1  # lineage part_id for non-bucketed (global) stages


class KgBuildJob:
    def __init__(self, spark: SparkSession, warehouse_path: str,
                 config: Optional[ExtractConfig] = None,
                 n_buckets: int = 16, salt="auto",
                 aliases: Optional[DataFrame] = None,
                 cc_local_solve_threshold: int = 2_000_000) -> None:
        self.spark = spark
        self.wh = Warehouse(spark, warehouse_path)
        self.config = config or ExtractConfig()
        self.n_buckets = n_buckets
        self.salt = salt
        # size gate for canonicalization (passed straight to
        # connected_components); 0 forces the distributed
        # label-propagation path — production web-scale behavior, and
        # the path whose cc_round telemetry the lineage table records
        self.cc_local_solve_threshold = cc_local_solve_threshold
        self._custom_aliases = aliases is not None
        self.aliases = aliases if aliases is not None else kg_ops.alias_df(spark)

    def _gazetteer_entries(self) -> tuple:
        """(alias, etype) tuples for mention mining, from the job's own
        alias dictionary."""
        if not self._custom_aliases:
            return tuple((a, t) for a, _e, _c, t, _p in
                         fixtures.alias_rows())
        rows = (self.aliases.select("alias", "etype")
                .orderBy("alias", "etype").collect())
        return tuple((r.alias, r.etype) for r in rows)

    # -- lineage -----------------------------------------------------------
    def _append_lineage(self, run_id: str, stage: str, rows: list) -> None:
        """Append one lineage row per (part_id, n_rows, wall_ms) as one
        parquet file, written hidden and renamed into place."""
        now = datetime.datetime.now(datetime.timezone.utc)
        table = pa.Table.from_pylist(
            [{"run_id": run_id, "part_id": int(pid), "stage": stage,
              "status": "ok", "n_rows": int(n), "wall_ms": int(wall_ms),
              "ts": now} for pid, n, wall_ms in rows],
            schema=LINEAGE_ARROW_SCHEMA)
        lineage = self.wh.table_path("lineage")
        lineage.mkdir(parents=True, exist_ok=True)
        name = f"part-{uuid.uuid4().hex}.parquet"
        tmp = lineage / f".{name}.tmp"
        pq.write_table(table, tmp)
        os.replace(tmp, lineage / name)

    def _done_buckets(self, stage: str) -> list:
        """part_ids with an ok ``stage`` lineage row, read on the
        driver from the lineage files' part_id/stage/status columns."""
        lineage = self.wh.table_path("lineage")
        if not lineage.exists():
            return []
        # the declared schema also reads a directory whose only file is
        # a crashed first append's hidden temp file (nothing to infer)
        done = pq.read_table(lineage, schema=LINEAGE_ARROW_SCHEMA,
                             columns=["part_id"],
                             filters=[("stage", "==", stage),
                                      ("status", "==", "ok")])
        return sorted(set(done.column("part_id").to_pylist()))

    def _stage(self, run_id: str, stage: str, build: Callable[[], dict],
               partition_by: Sequence[str] = ("part_id",)) -> dict:
        """Run one lineage-recorded stage.

        ``build()`` returns ``{table: df}`` in write order; each table is
        written and read back.  The first table's commit gives the
        stage's lineage: one row per written bucket (``part_id`` from the
        partition key) or, for a global stage, one ``GLOBAL_PART`` row.
        ``n_rows`` is the row count that write committed, read from the
        snapshot manifest, so no table is scanned to count it; every row
        carries the stage wall.  Returns the tables read back."""
        t0 = time.monotonic()
        tables = {}
        for name, df in build().items():
            # looked up per call: tracing wraps Warehouse.write_table
            self.wh.write_table(df, name, partition_by=partition_by)
            tables[name] = self.wh.read_table(name)
        wall_ms = int((time.monotonic() - t0) * 1000)
        added = self.wh.manifest(next(iter(tables)))["added_rows"]
        if partition_by:
            rows = [(key.partition("=")[2], n, wall_ms)
                    for key, n in added.items()]
        else:
            rows = [(GLOBAL_PART, sum(added.values()), wall_ms)]
        self._append_lineage(run_id, stage, rows)
        return tables

    # -- stages -------------------------------------------------------------
    def extract(self, pages: DataFrame, run_id: str = "run-1",
                resume: bool = False) -> DataFrame:
        """Extract stage alone: pages -> markdown_docs, one lineage row
        per written bucket.  With ``resume``, buckets that already have
        an ok extract row are skipped, and nothing is committed when no
        bucket is left.  Returns the markdown_docs table."""
        todo = with_part_id(pages, self.n_buckets)
        if resume:
            done = self._done_buckets("extract")
            if done:
                todo = todo.filter(~F.col("part_id").isin(done))
            if todo.limit(1).count() == 0:
                return self.wh.read_table("markdown_docs")

        def build() -> dict:
            docs = with_doc_path(extract_markdown(todo, self.config),
                                 self.config)
            # co-locate each bucket into one task before the partitioned
            # write: one output file per (bucket, write) instead of
            # n_tasks x n_buckets small files
            return {"markdown_docs": with_part_id(docs, self.n_buckets)
                    .repartition(self.n_buckets, "part_id")}

        return self._stage(run_id, "extract", build)["markdown_docs"]

    def run(self, pages: DataFrame, run_id: str = "run-1",
            resume: bool = False) -> dict:
        docs = self.extract(pages, run_id, resume)

        # The mining gazetteer comes from the SAME aliases the linking
        # stage uses — a caller-injected dictionary must drive mention
        # detection too, or custom aliases silently produce an empty KG.
        # (alias_rows() order is preserved for the default fixture dict,
        # keeping the byte-pinned fixture behavior; injected dicts are
        # collected in a deterministic order — the dictionary is the
        # bounded broadcast side, so the collect is small by contract.)
        mined = kg_ops.mine_kg_combined(
            docs, self._gazetteer_entries()).persist()
        mentions, triples = kg_ops.split_mined(mined)
        mine = self._stage(run_id, "mine", lambda: {
            "mentions": with_part_id(mentions, self.n_buckets),
            "triples": with_part_id(triples, self.n_buckets)})
        mined.unpersist()
        mentions, triples = mine["mentions"], mine["triples"]

        links = self._stage(run_id, "link", lambda: {
            "entity_links": with_part_id(
                kg_ops.link_entities(mentions, self.aliases, salt=self.salt),
                self.n_buckets)})["entity_links"]

        def graph() -> dict:
            # CC convergence telemetry: every distributed
            # label-propagation round lands in lineage as
            # stage='cc_round' with part_id = round index and
            # n_rows = changed-label count, so a production
            # non-convergence is diagnosable from the trajectory (flat
            # n_rows => a deep component, shrinking => raise max_iter).
            # Each row carries its own round's wall, not the stage's:
            # the trajectory shows WHICH rounds were slow.  The
            # driver-sized local union-find path has no rounds and
            # records nothing.
            rounds: list = []
            last = time.monotonic()

            def record_cc_round(round_idx: int, n_changed: int,
                                _n_nodes: int) -> None:
                nonlocal last
                now = time.monotonic()
                rounds.append((round_idx, n_changed,
                               int((now - last) * 1000)))
                last = now

            cmap = kg_ops.connected_components(
                kg_ops.coreference_edges(links),
                local_solve_threshold=self.cc_local_solve_threshold,
                on_round=record_cc_round)
            if rounds:
                self._append_lineage(run_id, "cc_round", rounds)
            self.wh.write_table(cmap, "canonical_map")
            cmap = self.wh.read_table("canonical_map")
            return {"kg_nodes": kg_ops.build_kg_nodes(cmap, mentions,
                                                      self.aliases),
                    "kg_edges": kg_ops.build_kg_edges(triples, cmap)}

        self._stage(run_id, "graph", graph, partition_by=())

        tables = {name: self.wh.read_table(name) for name in (
            "markdown_docs", "mentions", "triples", "entity_links",
            "canonical_map", "kg_nodes", "kg_edges")}
        # the declared schema spares Spark a schema-inference job
        tables["lineage"] = (self.spark.read.schema(LINEAGE_SCHEMA)
                             .parquet(str(self.wh.table_path("lineage"))))
        return tables
