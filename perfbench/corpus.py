"""Seeded benchmark corpora, built only from the repo's own fixtures.

Two shapes:

* ``web``: a long-tailed page-size mix.  Each page starts as a
  ``fixtures.bulk_page_row`` article (planted relations, Zipf hosts) and
  is padded inside its content container with seeded repeats of fixture
  page bodies and of relation sentences taken from other bulk articles.
  The size multiset comes from fixed lognormal quantiles, so it is the
  same for every seed; the seed picks contents, order and hosts.  That
  keeps the work per pass steady across seeds.
* ``small``: plain ``fixtures.bulk_page_row`` pages (~615 B each).

A corpus is written as ``4 * nproc`` parquet files whose uncompressed
HTML bytes are balanced (longest-processing-time assignment), cached
under ``<cache>/<name>-<seed>/`` and verified by content hash on reuse.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import random
import re
import shutil
import statistics
from dataclasses import asdict, dataclass
from pathlib import Path
from typing import List

KIB = 1024
MIB = 1024 * 1024

# fixture cases whose bodies pad the web-size pages: the realistic
# macro pages, all of similar size, so a page's mix of them (and its
# extraction cost per byte) does not depend on the seed
PAD_CASES = (
    "realistic-blog", "realistic-docs", "realistic-news",
    "realistic-product", "realistic-wiki", "realistic-consent-overlay",
    "realistic-newsletter", "realistic-forum-thread",
    "realistic-zh-article", "realistic-ar-rtl",
)
_BODY = re.compile(r"<body[^>]*>(.*)</body>", re.S | re.I)
# container names in a padding body would win the detection cascade
# over the page's own <div class="content">; rename the attributes so
# the whole padded page is the extracted content
_CONTAINER_ATTR = re.compile(r"\b(id|class)(\s*=)", re.I)
_PARA = re.compile(r"<p>([^<]*)</p>")
_PAD_MARK = "<h2>Notes</h2>"
# share of a page's padding bytes that are relation paragraphs; an
# unmeasured choice, and it sets how much of a pass goes to mining,
# linking and canonicalization rather than extraction
RELATION_SHARE = 0.15
# the predicates of fixtures' relation templates
_RELATION = re.compile(
    r"<p>[^<]* (?:works for|founded|is the CEO of|acquired|is based in) ")


@dataclass(frozen=True)
class Spec:
    name: str
    kind: str          # "web" | "small"
    n_pages: int
    # web only: lognormal size quantiles (bytes), clipped to [lo, hi]
    median: int = 0
    sigma: float = 0.0
    lo: int = 0
    hi: int = 0


def web_sizes(spec: Spec) -> List[int]:
    """Seed-independent target sizes: lognormal quantiles at
    (k + 0.5) / n, clipped."""
    nd = statistics.NormalDist()
    n = spec.n_pages
    return [int(min(spec.hi, max(spec.lo, spec.median * math.exp(
        spec.sigma * nd.inv_cdf((k + 0.5) / n))))) for k in range(n)]


def _pad_bodies() -> List[str]:
    from mdscraper_spark.sources import fixtures

    out = []
    for case in PAD_CASES:
        html = fixtures.FIXTURE_CASES[case]
        m = _BODY.search(html)
        body = m.group(1) if m else html
        out.append(_CONTAINER_ATTR.sub(r"data-\1\2", body))
    return out


def _relation_paras(rng: random.Random) -> str:
    """The sentence paragraphs of another seeded bulk article."""
    from mdscraper_spark.sources import fixtures

    html, _planted = fixtures.bulk_page_html(rng.randrange(10 ** 6), rng)
    return "".join(f"<p>{s}</p>" for s in _PARA.findall(html)
                   if not s.startswith("Compiled automatically"))


def _pad_page(html: str, target: int, bodies: List[str],
              rng: random.Random) -> str:
    """Pads to ``target`` bytes with fixture bodies and relation
    paragraphs, keeping relation paragraphs at a fixed share of the
    padding so mining work per byte does not depend on the seed."""
    parts: List[str] = []
    size = len(html)
    pad = rel = 0
    while size + pad < target:
        chunk = rng.choice(bodies)
        if rng.random() < 0.2:
            chunk += '<div class="ads">sponsored</div>'
        parts.append(chunk)
        pad += len(chunk)
        while rel < RELATION_SHARE * pad:
            paras = _relation_paras(rng)
            parts.append(paras)
            rel += len(paras)
            pad += len(paras)
    return html.replace(_PAD_MARK, "".join(parts) + _PAD_MARK, 1)


def generate(spec: Spec, seed: int) -> List[tuple]:
    """pages rows (url, warc_ts, html bytes, text, lang), deterministic
    in (spec, seed)."""
    from mdscraper_spark.sources import fixtures

    if spec.kind == "small":
        return [fixtures.bulk_page_row(i, seed) for i in range(spec.n_pages)]
    sizes = web_sizes(spec)
    random.Random(f"sizes:{seed}").shuffle(sizes)
    bodies = _pad_bodies()
    rows = []
    for i, target in enumerate(sizes):
        url, ts, html, text, lang = fixtures.bulk_page_row(i, seed)
        rng = random.Random(f"pad:{seed}:{i}")
        padded = _pad_page(html.decode("utf-8"), target, bodies, rng)
        rows.append((url, ts, padded.encode("utf-8"), text, lang))
    return rows


def content_hash(rows) -> str:
    h = hashlib.sha256()
    for url, _ts, html, _text, _lang in rows:
        h.update(url.encode())
        h.update(b"\0")
        h.update(html)
        h.update(b"\0")
    return h.hexdigest()


def balanced_files(sizes: List[int], n_files: int) -> List[List[int]]:
    """Item indices per file, largest items first onto the lightest
    file."""
    loads = [(0, f) for f in range(n_files)]
    files: List[List[int]] = [[] for _ in range(n_files)]
    for i in sorted(range(len(sizes)), key=lambda i: -sizes[i]):
        load, f = min(loads)
        files[f].append(i)
        loads[f] = (load + sizes[i], f)
    return [sorted(ix) for ix in files if ix]


def stats(rows) -> dict:
    sizes = sorted(len(r[2]) for r in rows)
    q = statistics.quantiles(sizes, n=10) if len(sizes) > 1 else sizes * 9
    rel = [len(_RELATION.findall(r[2].decode("utf-8"))) for r in rows]
    return {
        "pages": len(rows),
        "html_bytes": sum(sizes),
        "html_mib": sum(sizes) / MIB,
        "size_p50": int(statistics.median(sizes)),
        "size_p90": int(q[8]),
        "size_min": sizes[0],
        "size_max": sizes[-1],
        "relation_sentences_per_page": statistics.mean(rel),
    }


def _write(rows, out: Path, n_files: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema([
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ])
    for f, ix in enumerate(balanced_files([len(r[2]) for r in rows],
                                          n_files)):
        cols = list(zip(*(rows[i] for i in ix)))
        table = pa.Table.from_arrays(
            [pa.array(c, type=t) for c, t in zip(cols, schema.types)],
            schema=schema)
        pq.write_table(table, out / f"part-{f:03d}.parquet",
                       compression="zstd")


def read_rows(path: Path) -> List[tuple]:
    """The corpus rows back from its parquet files, in url order."""
    import pyarrow.parquet as pq

    rows = []
    for f in sorted(path.glob("part-*.parquet")):
        t = pq.read_table(f).to_pydict()
        rows.extend(zip(t["url"], t["warc_ts"], t["html"], t["text"],
                        t["lang"]))
    return sorted(rows, key=lambda r: r[0])


def _spec_json(spec: Spec) -> dict:
    return json.loads(json.dumps(asdict(spec)))


def materialize(spec: Spec, seed: int, cache: Path, n_files: int):
    """(pages dir, rows in url order, manifest) for (spec, seed):
    reuses a cached corpus whose content hash still matches, else
    regenerates it."""
    base = cache / f"{spec.name}-{seed}"
    pages = base / "pages"
    manifest_path = base / "manifest.json"
    if manifest_path.exists():
        manifest = json.loads(manifest_path.read_text())
        rows = read_rows(pages)
        if (manifest.get("spec") == _spec_json(spec)
                and manifest.get("n_files") == n_files
                and content_hash(rows) == manifest["content_hash"]):
            return pages, rows, manifest
    shutil.rmtree(base, ignore_errors=True)
    pages.mkdir(parents=True)
    rows = sorted(generate(spec, seed), key=lambda r: r[0])
    _write(rows, pages, n_files)
    manifest = {
        "spec": _spec_json(spec),
        "seed": seed,
        "n_files": n_files,
        "content_hash": content_hash(rows),
        "stats": stats(rows),
    }
    tmp = manifest_path.with_suffix(f".{os.getpid()}.tmp")
    tmp.write_text(json.dumps(manifest, indent=1, sort_keys=True))
    os.replace(tmp, manifest_path)
    return pages, rows, manifest
