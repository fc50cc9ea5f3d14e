"""KG-build benchmark: one workload, one seed, one process on local[nproc].

    python3 perfbench/run.py --workload web_sizes --seed 1 \
        --seconds 10 --trace 0

Run from the repository root.  ``--trace 0`` times full passes with
tracing off and reports the end-to-end metrics; ``--trace 1`` makes one
traced run and reports the per-layer metrics (see perfbench/README.md).
Every pass's kg_edges/kg_nodes must hash-equal kg.oracle.run_oracle over
the same pages, and the layer replay must equal extract_page; any
mismatch exits non-zero without a result.  The last stdout line is the
JSON result.
"""

import time

PROCESS_START = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
from dataclasses import dataclass  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench"


@dataclass(frozen=True)
class Workload:
    spec: object           # corpus.Spec
    kind: str              # "flagship" | "job"
    cc_threshold: int      # connected_components local_solve_threshold
    replay_pages: int      # traced run: pages in the layer replay sample
    min_samples: int       # (build_s, resume_s) samples per timed run


def workloads():
    from corpus import KIB, Spec

    return {
        # long-tailed page sizes: extraction is the largest stage
        "web_sizes": Workload(
            Spec("web_sizes", "web", 160, median=20 * KIB, sigma=1.1,
                 lo=1 * KIB, hi=256 * KIB),
            kind="flagship", cc_threshold=2_000_000, replay_pages=16,
            min_samples=2),
        # KgBuildJob + resume over small pages: warehouse writes,
        # lineage, distributed CC rounds, per-row and per-task overhead
        "warehouse_build": Workload(
            Spec("warehouse_build", "small", 2000),
            kind="job", cc_threshold=0, replay_pages=400, min_samples=1),
    }


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def prepare(spec, seed: int, n_files: int):
    """Corpus (cached by seed, hash-verified), its oracle result and the
    oracle's markdown_docs (cached beside it, keyed by the corpus
    hash).  Untimed."""
    import build
    import corpus

    pages, rows, manifest = corpus.materialize(
        spec, seed, WORK / "corpus", n_files)
    cache = pages.parent / "oracle.json"
    docs = pages.parent / "markdown_docs"
    key = {"content_hash": manifest["content_hash"], "n_files": n_files}
    ref = json.loads(cache.read_text()) if cache.exists() else {}
    if any(ref.get(k) != v for k, v in key.items()) or not docs.is_dir():
        shutil.rmtree(docs, ignore_errors=True)
        ref = build.oracle(rows, docs, n_files) | key
        cache.write_text(json.dumps(ref, sort_keys=True))
    return pages, rows, manifest, ref


class Bench:
    """Set-up state and the timed passes of one workload."""

    def __init__(self, wl: Workload, spark, pages: Path, ref: dict,
                 weather) -> None:
        self.wl, self.spark, self.pages, self.ref = wl, spark, pages, ref
        self.weather = weather
        self.n_pass = 0

    def warm_up(self, n_files: int) -> None:
        """Untimed passes, the resume included, over the first
        ``n_files`` parquet files of the corpus (one per core, a quarter
        of the pages), so JVM code paths, plan shapes and the Python
        workers are warm before the first timed pass.  They are not
        gated: the oracle covers the whole corpus."""
        import build

        def first(path: Path) -> str:
            names = sorted(p.name for p in path.glob("part-*.parquet"))
            return f"{path}/{{{','.join(names[:n_files])}}}"

        pages = first(self.pages)
        if self.wl.kind == "job":
            wh = WORK / "warehouse" / "warm-up"
            job = build.new_job(self.spark, str(wh), self.wl.cc_threshold)
            build.job_pass(self.spark, job, pages, "run-1")
            build.job_pass(self.spark, job, pages, "resume", resume=True)
            shutil.rmtree(wh, ignore_errors=True)
            return
        build.flagship_pass(self.spark, pages)
        build.resume_pass(self.spark, first(self.pages.parent /
                                            "markdown_docs"))

    def _job_run(self, label: str, wh: Path, resume: bool, rss) -> float:
        """KgBuildJob.run into ``wh`` (fresh unless ``resume``), gated
        against the oracle outside its timer.  Returns the wall."""
        import build

        if not resume:
            shutil.rmtree(wh, ignore_errors=True)
        job = build.new_job(self.spark, str(wh), self.wl.cc_threshold)
        run_id = "resume" if resume else "run-1"
        with rss:
            wall, tables = self.weather.around(
                f"{label}:{run_id}",
                lambda: build.job_pass(self.spark, job, str(self.pages),
                                       run_id, resume=resume))
        build.check(build.job_result(tables, count_errors=not resume),
                    self.ref, f"{label}:{run_id}")
        return wall

    def sample(self, rss) -> tuple:
        """One (build_s, resume_s) sample."""
        import build

        self.n_pass += 1
        label = f"pass{self.n_pass}"
        if self.wl.kind == "job":
            wh = WORK / "warehouse" / label
            build_s = self._job_run(label, wh, False, rss)
            resume_s = self._job_run(label, wh, True, rss)
            shutil.rmtree(wh, ignore_errors=True)
            return build_s, resume_s
        with rss:
            build_s, res = self.weather.around(
                f"{label}:build",
                lambda: build.flagship_pass(self.spark, str(self.pages)))
        build.check(res, self.ref, f"{label}:build")
        with rss:
            resume_s, res = self.weather.around(
                f"{label}:resume",
                lambda: build.resume_pass(
                    self.spark, str(self.pages.parent / "markdown_docs")))
        build.check(res, self.ref, f"{label}:resume")
        return build_s, resume_s

    def untraced_s(self) -> float:
        """One full-pass wall with tracing off: the overhead baseline."""
        from host import PeakRss

        return self.sample(PeakRss())[0]


def timed(bench: Bench, seconds: float, manifest: dict, rows,
          seed: int) -> dict:
    import trace
    from host import PeakRss

    rss = PeakRss()
    builds, resumes = [], []
    t0 = time.monotonic()
    while (time.monotonic() - t0 < seconds
           or len(builds) < bench.wl.min_samples):
        b, r = bench.sample(rss)
        builds.append(b)
        resumes.append(r)
    st = manifest["stats"]
    build_s = statistics.median(builds)
    attempted = st["pages"] * len(builds)
    failed = bench.ref["status"]["error"] * len(builds)
    log(f"build_s samples={len(builds)} {['%.3f' % b for b in builds]}; "
        f"resume_s {['%.3f' % r for r in resumes]}")
    # untimed single-core extract_page speed, so a drift in host speed
    # shows beside the pass walls
    log(f"single-core control x.core_mib_per_s = "
        f"{trace.core_control(rows, seed, bench.wl.replay_pages):.4f}")
    return {
        "attempted": attempted, "failed": failed,
        "metrics": {
            "build_s": build_s,
            "resume_s": statistics.median(resumes),
            "pages_per_s": st["pages"] / build_s,
            "html_mib_per_s": st["html_mib"] / build_s,
            "peak_rss_mib": rss.peak,
            "ok_share": 1.0 - failed / attempted,
        },
    }


def traced(bench: Bench, rows, manifest: dict, seed: int) -> dict:
    import build
    import trace
    from host import PeakRss

    untraced = bench.untraced_s()
    tracer = trace.Tracer(
        run_id=f"{bench.wl.spec.name}-{seed}-{time.time_ns()}")
    runner = trace.StageRunner(bench.spark, tracer)
    rss = PeakRss()
    with rss, tracer.span("pass"):
        m, res = trace.staged_pass(bench.spark, runner, str(bench.pages),
                                   bench.wl.cc_threshold)
    build.check(res, bench.ref, "traced staged pass")
    m["mem.py_workers_peak_mib"] = rss.workers_peak
    wh = WORK / "warehouse" / "traced"
    shutil.rmtree(wh, ignore_errors=True)
    with tracer.span("job_pass"):
        jm, tables = trace.traced_job_pass(
            bench.spark, runner, str(bench.pages), wh, bench.wl.cc_threshold,
            manifest["stats"]["html_bytes"])
    build.check(build.job_result(tables), bench.ref, "traced job pass")
    shutil.rmtree(wh, ignore_errors=True)
    m.update(jm)
    traced_s = tracer.wall("pass" if bench.wl.kind == "flagship"
                           else "job_pass")
    m["trace.pass_s"] = traced_s
    m["trace.untraced_s"] = untraced
    m["trace.overhead_s"] = traced_s - untraced
    totals = dict.fromkeys(("jobs", "tasks", "failed_tasks"), 0)
    for stage in trace.STAGES:
        for k, v in runner.counts[stage].items():
            m[f"spark.{stage}.{k}"] = v
            totals[k] += v
    m.update({f"spark.{k}": v for k, v in totals.items()})
    with tracer.span("replay"):
        m.update(trace.replay(rows, seed, bench.wl.replay_pages))
    out = WORK / "traces" / f"{tracer.run_id}.json"
    tracer.write(out)
    log(f"spans and self times written to {out}")
    for name, s in sorted(tracer.self_times().items()):
        log(f"self {name:16s} {s:9.3f} s")
    n_pages = manifest["stats"]["pages"]
    return {
        "attempted": 3 * n_pages,
        "failed": 3 * bench.ref["status"]["error"],
        "metrics": m,
    }


def declared_units(trace: int) -> dict:
    """name -> unit of every metric BENCHMARK.json lists for the mode."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"]
            for m in spec["per_layer" if trace else "end_to_end"]}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "mdscraper_spark" / "__init__.py").is_file():
        log(f"no mdscraper_spark package under {ROOT}; run from a checkout")
        return 2
    sys.path.insert(0, str(ROOT))
    import build
    import host
    import trace

    wl = workloads().get(args.workload)
    if wl is None:
        log(f"unknown workload {args.workload!r}; "
            f"choose from {sorted(workloads())}")
        return 2

    t_prep = time.monotonic()
    pages, rows, manifest, ref = prepare(wl.spec, args.seed,
                                         4 * host.nproc())
    prep_s = time.monotonic() - t_prep
    log(f"corpus {manifest['stats']} oracle {ref['edges']} edges, "
        f"{ref['nodes']} nodes (prep {prep_s:.1f} s, untimed)")

    weather = host.Weather()
    spark = host.get_session(f"perfbench-{args.workload}", ROOT)
    try:
        bench = Bench(wl, spark, pages, ref, weather)
        n_rows = spark.read.parquet(str(pages)).count()
        if n_rows != manifest["stats"]["pages"]:
            raise build.GateError(f"scan read {n_rows} pages, corpus has "
                                  f"{manifest['stats']['pages']}")
        t_warm = time.monotonic()
        bench.warm_up(host.nproc())
        setup_s = time.monotonic() - PROCESS_START - prep_s
        log(f"setup_s {setup_s:.1f}: warm-up {time.monotonic() - t_warm:.1f}")
        if args.trace:
            result = traced(bench, rows, manifest, args.seed)
        else:
            result = timed(bench, args.seconds, manifest, rows, args.seed)
            result["metrics"]["setup_s"] = setup_s
    except (build.GateError, trace.ReplayMismatch) as exc:
        log(f"correctness check failed: {exc}")
        return 1
    finally:
        host.shutdown(spark)
        shutil.rmtree(WORK / "warehouse", ignore_errors=True)
    for rec in weather.records:
        log("weather " + json.dumps(rec))
    metrics, units = result["metrics"], declared_units(args.trace)
    if set(metrics) != set(units):
        log(f"metrics differ from BENCHMARK.json: missing "
            f"{sorted(set(units) - set(metrics))}, extra "
            f"{sorted(set(metrics) - set(units))}")
        return 3
    for name in sorted(metrics):
        print(f"{name} = {metrics[name]:.6g} {units[name]}")
    print(json.dumps({
        "correct": True,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in metrics.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
