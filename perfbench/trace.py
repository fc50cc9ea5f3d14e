"""The traced run: spans at each layer boundary, Spark work counts per
stage, a stage-at-a-time build, a traced KgBuildJob run, and the
single-core replay of ``extract_page``'s layers.

All timing wraps calls into the repo's public functions from here; no
instrumentation lives inside ``mdscraper_spark``.
"""

from __future__ import annotations

import json
import random
import time
from dataclasses import dataclass, field
from html.parser import HTMLParser
from pathlib import Path
from typing import Dict, List, Optional

from build import PassResult, extract_config, gazetteer, kg_hash, new_job

MIB = 1024 * 1024
STAGES = ("scan", "arrow", "extract", "mine", "link", "canon", "graph", "job")
STATUSES = ("ok", "no_content", "render_empty", "error")


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: Optional[int]
    run_id: str


@dataclass
class Tracer:
    """In-memory spans; ``span`` is a context manager that records one
    and nests later spans under it."""
    run_id: str
    spans: List[Span] = field(default_factory=list)
    _stack: List[int] = field(default_factory=list)

    def span(self, name: str):
        tracer = self

        class _Ctx:
            def __enter__(self):
                parent = tracer._stack[-1] if tracer._stack else None
                tracer.spans.append(
                    Span(name, time.monotonic(), 0.0, parent, tracer.run_id))
                self.idx = len(tracer.spans) - 1
                tracer._stack.append(self.idx)
                return tracer.spans[self.idx]

            def __exit__(self, *exc):
                tracer.spans[self.idx].end = time.monotonic()
                tracer._stack.pop()

        return _Ctx()

    def wall(self, name: str) -> float:
        return sum(s.end - s.start for s in self.spans if s.name == name)

    def self_times(self) -> Dict[str, float]:
        """Span duration minus the time its child spans cover, summed
        per span name."""
        child: Dict[int, float] = {}
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] = child.get(s.parent, 0.0) + (s.end - s.start)
        out: Dict[str, float] = {}
        for i, s in enumerate(self.spans):
            out[s.name] = out.get(s.name, 0.0) + \
                (s.end - s.start) - child.get(i, 0.0)
        return out

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        t0 = min((s.start for s in self.spans), default=0.0)
        path.write_text(json.dumps({
            "spans": [{"name": s.name, "start": s.start - t0,
                       "end": s.end - t0, "parent": s.parent,
                       "run_id": s.run_id} for s in self.spans],
            "self_s": self.self_times(),
        }, indent=1))


def spark_counts(spark, group: str) -> Dict[str, int]:
    """Jobs, tasks and failed tasks of one job group, from the
    status tracker."""
    st = spark.sparkContext.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    tasks = failed = 0
    for jid in jobs:
        info = st.getJobInfo(jid)
        for sid in (info.stageIds if info else ()):
            stage = st.getStageInfo(sid)
            if stage is not None:
                tasks += stage.numTasks
                failed += stage.numFailedTasks
    return {"jobs": len(jobs), "tasks": tasks, "failed_tasks": failed}


class StageRunner:
    """Runs each stage under its own span and Spark job group."""

    def __init__(self, spark, tracer: Tracer) -> None:
        self.spark = spark
        self.tracer = tracer
        self.counts: Dict[str, Dict[str, int]] = {}

    def run(self, stage: str, fn):
        sc = self.spark.sparkContext
        group = f"{self.tracer.run_id}:{stage}"
        sc.setJobGroup(group, stage)
        try:
            with self.tracer.span(stage):
                out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        self.counts[stage] = spark_counts(self.spark, group)
        return out


def staged_pass(spark, runner: StageRunner, pages_path: str,
                cc_threshold: int) -> tuple:
    """The flagship build forced one stage at a time, each result
    materialized before the next stage starts.  Returns (metrics,
    PassResult)."""
    from pyspark import StorageLevel
    from pyspark.sql import functions as F

    from mdscraper_spark.operators import kg as kg_ops
    from mdscraper_spark.operators.extract_udfs import extract_markdown

    m: Dict[str, float] = {}
    cached = []

    def keep(df):
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        cached.append(df)
        return df

    pages = spark.read.parquet(pages_path).select(
        "url", "warc_ts", "html", "lang")
    try:
        row = runner.run("scan", lambda: pages.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.length("html")).alias("b")).collect()[0])
        m["scan.rows"], m["scan.mib"] = row.n, row.b / MIB

        runner.run("arrow", lambda: pages.mapInPandas(
            lambda it: it, pages.schema).write.format("noop")
            .mode("overwrite").save())

        docs = keep(extract_markdown(pages, extract_config()))
        by_status = runner.run("extract", lambda: docs.groupBy("status").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("n_bytes").alias("b")).collect())
        n_docs = sum(r.n for r in by_status)
        for s in STATUSES:
            m[f"extract.status.{s}"] = sum(r.n for r in by_status
                                           if r.status == s)
        m["extract.ok_share"] = m["extract.status.ok"] / max(1, n_docs)
        m["extract.md_mib"] = sum(r.b or 0 for r in by_status) / MIB

        mined = keep(kg_ops.mine_kg_combined(docs, gazetteer()))
        kinds = dict(runner.run("mine", lambda: mined.groupBy("kind")
                                .count().collect()))
        m["mine.mentions"] = kinds.get("mention", 0)
        m["mine.triples"] = kinds.get("triple", 0)
        mentions, triples = kg_ops.split_mined(mined)

        aliases = kg_ops.alias_df(spark)
        links = keep(kg_ops.link_entities(mentions, aliases))
        m["link.links"] = runner.run("link", links.count)
        m["link.hit_ratio"] = m["link.links"] / max(1, m["mine.mentions"])

        rounds: List[int] = []

        def canon():
            cmap = kg_ops.connected_components(
                kg_ops.coreference_edges(links),
                local_solve_threshold=cc_threshold,
                on_round=lambda i, changed, nodes: rounds.append(i))
            cmap = keep(cmap)
            return cmap, cmap.count()

        cmap, m["canon.nodes"] = runner.run("canon", canon)
        m["canon.rounds"] = len(rounds)
        # on_round fires only on the distributed label-propagation path
        m["canon.path"] = 1 if rounds else 0

        def graph():
            edges = [tuple(r) for r in
                     kg_ops.build_kg_edges(triples, cmap).collect()]
            nodes = [tuple(r) for r in
                     kg_ops.build_kg_nodes(cmap, mentions, aliases).collect()]
            return edges, nodes

        edges, nodes = runner.run("graph", graph)
        m["graph.edges"], m["graph.nodes"] = len(edges), len(nodes)
    finally:
        for df in cached:
            df.unpersist()
    for stage in ("scan", "arrow", "extract", "mine", "link", "canon",
                  "graph"):
        m[f"{stage}.wall_s"] = runner.tracer.wall(stage)
    result = PassResult(kg_hash(edges, nodes),
                        int(m["extract.status.error"]), len(edges),
                        len(nodes))
    return m, result


def _dir_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in path.rglob("*") if p.is_file())


def traced_job_pass(spark, runner: StageRunner, pages_path: str,
                    warehouse: Path, cc_threshold: int,
                    html_bytes: int) -> tuple:
    """KgBuildJob.run with a span around every Warehouse.write_table
    call; lineage read back afterwards.  Returns (metrics, tables)."""
    from pyspark.sql import functions as F

    job = new_job(spark, str(warehouse), cc_threshold)
    write = job.wh.write_table

    def traced_write(df, name, *args, **kwargs):
        with runner.tracer.span("warehouse.write"):
            return write(df, name, *args, **kwargs)

    job.wh.write_table = traced_write
    run_id = f"{runner.tracer.run_id}-job"
    tables = runner.run("job", lambda: job.run(
        spark.read.parquet(pages_path), run_id=run_id))

    # extract/mine/link/graph repeat the stage wall on each bucket's
    # row; cc_round rows carry each round's own wall
    walls = {r.stage: r for r in tables["lineage"]
             .filter(F.col("run_id") == run_id).groupBy("stage")
             .agg(F.count(F.lit(1)).alias("rows"),
                  F.max("wall_ms").alias("max_ms"),
                  F.sum("wall_ms").alias("sum_ms")).collect()}
    m: Dict[str, float] = {"lineage.rows": sum(r.rows for r in walls.values())}
    for stage in ("extract", "mine", "link", "graph"):
        m[f"job.{stage}.wall_s"] = (walls[stage].max_ms / 1000
                                    if stage in walls else 0.0)
    m["job.cc_round.wall_s"] = (walls["cc_round"].sum_ms / 1000
                                if "cc_round" in walls else 0.0)
    m["job.wall_s"] = runner.tracer.wall("job")
    written = _dir_bytes(warehouse)
    m["warehouse.write_s"] = runner.tracer.wall("warehouse.write")
    m["warehouse.mib_written"] = written / MIB
    m["warehouse.bytes_per_input_byte"] = written / max(1, html_bytes)
    return m, tables


# ---------------------------------------------------------------------------
# single-core replay of extract_page's layers
# ---------------------------------------------------------------------------

class _NoOpParser(HTMLParser):
    """stdlib tokenizer with no-op handlers: the tokenizer floor."""


REPLAY_KEYS = ("tokenize", "parse", "cascade", "harvest", "strips", "title",
               "render", "finish")


def replay_page(url: str, html: str, cfg, acc: Dict[str, float]):
    """extract_page rebuilt from its public functions in its own order,
    timing each layer into ``acc``; returns an ExtractResult."""
    from mdscraper_spark.extract import pipeline as px
    from mdscraper_spark.htmlcore.dom import parse_html
    from mdscraper_spark.mdrender.render import render_markdown

    clock = time.perf_counter

    def timed(key, fn, *args):
        t0 = clock()
        out = fn(*args)
        acc[key] += clock() - t0
        return out

    def tokenize():
        p = _NoOpParser()
        p.feed(html)
        p.close()

    try:
        timed("tokenize", tokenize)
        root = timed("parse", parse_html, html)
        content, stage, name = timed("cascade", px.find_content_container,
                                     root, cfg)
        if content is None:
            return px.ExtractResult(None, None, None, px.STAGE_NONE, None,
                                    "no_content", None, [])
        links = timed("harvest", px.harvest_links, content)

        def strips():
            px.process_exclude_selectors(content, cfg.exclude_selectors)
            if cfg.no_images:
                px.remove_images(content)
            if cfg.no_links:
                px.remove_links(content)
            else:
                px.make_urls_relative(content, cfg.root_url)

        timed("strips", strips)
        title = timed("title", px.extract_page_title, root)
        rendered = timed("render", render_markdown, content)

        def finish():
            md = px.finish_markdown(
                rendered, title,
                url if cfg.prepend_source_link else None,
                cfg.extra_heading_space)
            return md, (None if md is None else
                        px.derive_output_name(url, md, cfg.output))

        markdown, slug = timed("finish", finish)
        if markdown is None:
            return px.ExtractResult(None, title, None, stage, name,
                                    "render_empty", None, links)
        return px.ExtractResult(markdown, title, slug, stage, name, "ok",
                                None, links)
    except Exception as exc:  # extract_page's per-row error contract
        return px.ExtractResult(None, None, None, px.STAGE_NONE, None,
                                "error", f"{type(exc).__name__}: {exc}", [])


class ReplayMismatch(RuntimeError):
    """The layer replay disagreed with extract_page."""


def replay_sample(rows, seed: int, n_sample: int) -> list:
    return random.Random(f"replay:{seed}").sample(
        list(rows), min(n_sample, len(rows)))


def core_control(rows, seed: int, n_sample: int) -> float:
    """MiB/s of extract_page on one core over the replay sample."""
    from mdscraper_spark.extract.pipeline import extract_page

    cfg = extract_config()
    n_bytes, t0 = 0, time.perf_counter()
    for url, _ts, html_b, _text, _lang in replay_sample(rows, seed,
                                                        n_sample):
        n_bytes += len(html_b)
        extract_page(url, bytes(html_b).decode("utf-8", errors="replace"),
                     cfg)
    return n_bytes / MIB / (time.perf_counter() - t0)


def replay(rows, seed: int, n_sample: int) -> Dict[str, float]:
    """Replays a seeded sample of pages on one core; every result must
    equal extract_page's for the page.  Mining layers run on the
    replayed markdown."""
    from mdscraper_spark.extract.pipeline import extract_page
    from mdscraper_spark.kg import rules

    cfg = extract_config()
    sample = replay_sample(rows, seed, n_sample)
    acc = dict.fromkeys(REPLAY_KEYS, 0.0)
    control = 0.0
    mine = dict.fromkeys(("split", "mentions", "triples"), 0.0)
    gaz = rules.Gazetteer(gazetteer())
    clock = time.perf_counter
    n_bytes = 0
    for url, _ts, html_b, _text, _lang in sample:
        html = bytes(html_b).decode("utf-8", errors="replace")
        n_bytes += len(html_b)
        got = replay_page(url, html, cfg, acc)
        t0 = clock()
        want = extract_page(url, html, cfg)
        control += clock() - t0
        if got != want:
            raise ReplayMismatch(f"layer replay differs from extract_page "
                                 f"on {url}")
        if got.status != "ok":
            continue
        t0 = clock()
        sentences = rules.split_sentences(got.markdown)
        t1 = clock()
        rules.detect_mentions(sentences, gaz)
        t2 = clock()
        rules.extract_triples(sentences)
        t3 = clock()
        mine["split"] += t1 - t0
        mine["mentions"] += t2 - t1
        mine["triples"] += t3 - t2
    m = {f"x.{k}_s": v for k, v in acc.items() if k != "parse"}
    m["x.dom_s"] = acc["parse"] - acc["tokenize"]
    m["x.core_mib_per_s"] = n_bytes / MIB / control
    m["x.pages"] = len(sample)
    m["x.mib"] = n_bytes / MIB
    m.update({f"m.{k}_s": v for k, v in mine.items()})
    return m

