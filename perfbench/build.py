"""The timed KG builds and their oracle gate.

``flagship_pass`` is the in-memory build (extract -> mine_kg_combined ->
link_entities -> connected_components -> build_kg_edges/build_kg_nodes,
both collected).  ``job_pass`` is ``KgBuildJob.run`` into a warehouse.
Every pass's ``kg_edges``/``kg_nodes`` are hashed and compared with
``kg.oracle.run_oracle`` over the same pages.
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import dataclass
from typing import Optional

# the bench.py flagship configuration: both strips have work to do
EXCLUDE = (".ads", "#nav")


def extract_config():
    from mdscraper_spark.config import ExtractConfig

    return ExtractConfig(exclude_selectors=EXCLUDE)


def gazetteer() -> tuple:
    from mdscraper_spark.sources.fixtures import alias_rows

    return tuple((a, t) for a, _e, _c, t, _p in alias_rows())


def kg_hash(edges, nodes) -> str:
    """Order-insensitive hash of (kg_edges, kg_nodes) rows."""
    canon = json.dumps([sorted(map(list, edges)), sorted(map(list, nodes))])
    return hashlib.sha256(canon.encode()).hexdigest()


def oracle(rows, docs_path, n_files: int) -> dict:
    """Single-threaded reference KG for the corpus rows: its hash and
    sizes.  Its markdown_docs are written to ``docs_path`` as the input
    of the resume pass, in ``n_files`` files balanced by markdown bytes
    like the corpus, so the resume's tasks share the work."""
    from mdscraper_spark.kg.oracle import run_oracle
    from mdscraper_spark.sources.fixtures import alias_rows

    out = run_oracle(((r[0], r[2].decode("utf-8", errors="replace"))
                      for r in rows), alias_rows(), extract_config())
    _write_docs(out["markdown_docs"], docs_path, n_files)
    return {
        "kg_hash": kg_hash(out["kg_edges"], out["kg_nodes"]),
        "edges": len(out["kg_edges"]),
        "nodes": len(out["kg_nodes"]),
        "mentions": len(out["mentions"]),
        "triples": len(out["triples"]),
        "links": len(out["entity_links"]),
        "status": {s: sum(1 for d in out["markdown_docs"] if d[6] == s)
                   for s in ("ok", "no_content", "render_empty", "error")},
    }


DOCS_COLUMNS = ("url", "markdown", "title", "doc_slug", "detect_stage",
                "detect_name", "status", "error")


def _write_docs(markdown_docs, docs_path, n_files: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    from corpus import balanced_files

    docs_path.mkdir(parents=True, exist_ok=True)
    types = (pa.string(), pa.string(), pa.string(), pa.string(), pa.int32(),
             pa.string(), pa.string(), pa.string())
    sizes = [len(d[1] or "") for d in markdown_docs]
    for f, ix in enumerate(balanced_files(sizes, n_files) or [[]]):
        cols = (list(zip(*(markdown_docs[i] for i in ix)))
                or [()] * len(DOCS_COLUMNS))
        pq.write_table(pa.table({n: pa.array(c, type=t) for n, c, t in
                                 zip(DOCS_COLUMNS, cols, types)}),
                       docs_path / f"part-{f:03d}.parquet")


@dataclass
class PassResult:
    kg_hash: str
    n_errors: Optional[int]  # pages with status='error'; None: no extract
    n_edges: int
    n_nodes: int


def _collect_kg(edges_df, nodes_df):
    edges = [tuple(r) for r in edges_df.collect()]
    nodes = [tuple(r) for r in nodes_df.collect()]
    return edges, nodes


def _downstream(spark, docs):
    """markdown_docs -> collected (kg_edges, kg_nodes) rows."""
    from pyspark import StorageLevel

    from mdscraper_spark.operators import kg as kg_ops

    aliases = kg_ops.alias_df(spark)
    # mentions and triples both read the mined rows: persist them so
    # extraction runs once per pass
    mined = kg_ops.mine_kg_combined(docs, gazetteer()) \
        .persist(StorageLevel.MEMORY_AND_DISK)
    try:
        mentions, triples = kg_ops.split_mined(mined)
        links = kg_ops.link_entities(mentions, aliases)
        cmap = kg_ops.connected_components(kg_ops.coreference_edges(links))
        return _collect_kg(kg_ops.build_kg_edges(triples, cmap),
                           kg_ops.build_kg_nodes(cmap, mentions, aliases))
    finally:
        mined.unpersist()


def flagship_pass(spark, pages_path: str) -> PassResult:
    """pages -> kg_edges + kg_nodes, extraction included."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from mdscraper_spark.operators.extract_udfs import extract_markdown

    obs = Observation()
    docs = extract_markdown(spark.read.parquet(pages_path),
                            extract_config()).observe(
        obs, F.count(F.when(F.col("status") == "error", 1)).alias("errors"))
    edges, nodes = _downstream(spark, docs)
    return PassResult(kg_hash(edges, nodes), int(obs.get["errors"]),
                      len(edges), len(nodes))


def resume_pass(spark, docs_path: str) -> PassResult:
    """The in-memory resume: extraction skipped, every downstream stage
    redone from a written markdown_docs table."""
    edges, nodes = _downstream(spark, spark.read.parquet(docs_path))
    return PassResult(kg_hash(edges, nodes), None, len(edges), len(nodes))


def new_job(spark, warehouse: str, cc_local_solve_threshold: int):
    from mdscraper_spark.jobs.kg_build import KgBuildJob

    return KgBuildJob(spark, warehouse,
                      config=extract_config(),
                      cc_local_solve_threshold=cc_local_solve_threshold)


def job_pass(spark, job, pages_path: str, run_id: str,
             resume: bool = False) -> dict:
    """One KgBuildJob.run; returns its table readers."""
    pages = spark.read.parquet(pages_path)
    return job.run(pages, run_id=run_id, resume=resume)


def job_result(tables: dict, count_errors: bool = True) -> PassResult:
    """Untimed read-back of a job's outputs for the gate; a resume run
    extracts nothing, so its error pages are not recounted."""
    from pyspark.sql import functions as F

    edges, nodes = _collect_kg(
        tables["kg_edges"].select("src", "pred", "dst", "n_support"),
        tables["kg_nodes"].select("canon_id", "label", "n_mentions"))
    n_err = (tables["markdown_docs"].filter(F.col("status") == "error")
             .count() if count_errors else None)
    return PassResult(kg_hash(edges, nodes), n_err, len(edges), len(nodes))


class GateError(RuntimeError):
    """A pass disagreed with the oracle; its timing is not reported."""


def check(result: PassResult, ref: dict, label: str) -> None:
    if result.kg_hash != ref["kg_hash"]:
        raise GateError(
            f"{label}: kg_edges/kg_nodes differ from run_oracle "
            f"({result.n_edges} edges, {result.n_nodes} nodes vs "
            f"{ref['edges']}, {ref['nodes']})")
    want = ref["status"]["error"]
    if result.n_errors is not None and result.n_errors != want:
        raise GateError(f"{label}: {result.n_errors} error pages, oracle "
                        f"has {want}")
