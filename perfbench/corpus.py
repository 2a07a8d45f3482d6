"""Benchmark inputs: a cached pool of generated pages and seeded samples of it.

Every input comes from the engine's own generator,
`horizon_ocr_python_spark.sources.pages.make_page`, whose ground-truth
`text` is the oracle for the extracted `raw_text`.

Raster pages cost 0.1-2.3 s each to generate (the pure-Python JPEG encoder
dominates) against ~0.2 ms for an HTML page, so generating a fresh corpus
for every run would cost more than the run measures. Instead a pool is
generated once per checkout with a fixed pool seed, and each run takes a
sample of it chosen by the run's `--seed`. The sample is stratified by page
kind, so every seed sees exactly the pool's mix and job times do not swing
with the number of scanned pages a seed happens to draw (see `strata`).

Both the pool and every sample are cached under a key that hashes the
generator's source files, so a generator change regenerates the inputs
instead of silently benchmarking a stale corpus.
"""

from __future__ import annotations

import hashlib
import multiprocessing
import os
import random
from dataclasses import dataclass
from datetime import timezone
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

POOL_SEED = 42
POOL_PAGES = 3000
POOL_WORKERS = 4
SIZE_STRATA = 8

# The generator and the kernel encoders it imports: a change to any of
# these changes the generated bytes or the ground truth.
GENERATOR_SOURCES = (
    "horizon_ocr_python_spark/sources/pages.py",
    "horizon_ocr_python_spark/sources/_png_doc_image.py",
    "horizon_ocr_python_spark/kernel/jpeg.py",
    "horizon_ocr_python_spark/kernel/png.py",
    "horizon_ocr_python_spark/kernel/pdf_text.py",
    "horizon_ocr_python_spark/kernel/glyphs.py",
)

# PAGES_SCHEMA of the engine; warc_ts is stored as a UTC timestamp so
# Spark reads it as TimestampType.
PAGES_ARROW_SCHEMA = pa.schema([
    ("url", pa.string()),
    ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("html", pa.binary()),
    ("text", pa.string()),
    ("lang", pa.string()),
])


@dataclass(frozen=True)
class Sample:
    """One run's input: the parquet the engine reads plus what the
    benchmark keeps for itself (page kinds and ground truth)."""

    key: str              # cache key: generator sources, pool and sampling code
    path: str
    urls: list[str]
    kinds: list[str]
    texts: list[str]
    sizes: list[int]      # payload bytes per page


def generator_key(repo_root: Path) -> str:
    """Key of the pool: the generator's sources and the pool's parameters."""
    h = hashlib.sha256(f"{POOL_SEED}:{POOL_PAGES}".encode())
    for rel in GENERATOR_SOURCES:
        h.update(rel.encode())
        h.update((repo_root / rel).read_bytes())
    return h.hexdigest()[:16]


def _make_rows(args: tuple[list[int], int]) -> list[dict]:
    """Pool worker: make_page for a chunk of indices at one scale."""
    from horizon_ocr_python_spark.sources.pages import make_page

    indices, scale = args
    out = []
    for i in indices:
        p = make_page(i, seed=POOL_SEED, scale=scale)
        out.append({"url": p["url"],
                    "warc_ts": p["warc_ts"].replace(tzinfo=timezone.utc),
                    "html": p["html"], "text": p["text"], "lang": p["lang"],
                    "kind": p["kind"]})
    return out


def _generate(indices: list[int], scale: int) -> list[dict]:
    chunks = [indices[k:k + 50] for k in range(0, len(indices), 50)]
    ctx = multiprocessing.get_context("spawn")
    workers = max(1, min(POOL_WORKERS, len(os.sched_getaffinity(0))))
    with ctx.Pool(workers) as pool:
        rows = [r for chunk in pool.map(_make_rows, [(c, scale) for c in chunks])
                for r in chunk]
    return rows


def _write(rows: list[dict], path: Path, with_kind: bool) -> None:
    schema = PAGES_ARROW_SCHEMA
    if with_kind:
        schema = schema.append(pa.field("kind", pa.string()))
    table = pa.Table.from_pylist(rows, schema=schema)
    tmp = path.with_suffix(".tmp")
    pq.write_table(table, tmp)
    os.replace(tmp, path)


def _pool(cache: Path, key: str, scale: int, kinds: tuple[str, ...] | None) -> list[dict]:
    """The pool of pages at `scale`, restricted to `kinds` when given.

    A page's kind is drawn before `scale` is used, so the scale-8 HTML pool
    takes the HTML indices of the scale-1 pool and only generates cheap
    HTML pages; `_check_kinds` verifies that on every generated row."""
    name = f"pool-{key}-s{scale}-{'+'.join(kinds) if kinds else 'all'}.parquet"
    path = cache / name
    if not path.exists():
        if scale == 1 and kinds is None:
            rows = _generate(list(range(POOL_PAGES)), 1)
        else:
            base = _pool(cache, key, 1, None)
            want = [i for i, r in enumerate(base)
                    if kinds is None or r["kind"] in kinds]
            rows = _generate(want, scale)
            _check_kinds(rows, [base[i]["kind"] for i in want])
        _write(rows, path, with_kind=True)
    return pq.read_table(path).to_pylist()


def _check_kinds(rows: list[dict], expected: list[str]) -> None:
    got = [r["kind"] for r in rows]
    if got != expected:
        raise RuntimeError("make_page's kind depends on scale; the scaled "
                           "pool can no longer reuse the scale-1 kinds")


def strata(kinds: list[str], sizes: list[int]) -> list[tuple[str, int]]:
    """Stratum of each pool page: its kind and its payload-size octile
    within that kind. Per-page extraction cost grows with payload size
    (pages per scanned PDF, lines per image), so sampling every stratum in
    proportion keeps a run's total work nearly seed-independent."""
    by_kind: dict[str, list[int]] = {}
    for i, k in enumerate(kinds):
        by_kind.setdefault(k, []).append(i)
    out: list[tuple[str, int]] = [("", 0)] * len(kinds)
    for k, idx in by_kind.items():
        for rank, i in enumerate(sorted(idx, key=lambda i: (sizes[i], i))):
            out[i] = (k, rank * SIZE_STRATA // len(idx))
    return out


def stratified(labels: list, n: int, rng: random.Random) -> list[int]:
    """`n` pool indices with each stratum's share of the pool (largest
    remainder rounding), in seeded random order."""
    groups: dict = {}
    for i, g in enumerate(labels):
        groups.setdefault(g, []).append(i)
    quotas = {g: n * len(v) / len(labels) for g, v in sorted(groups.items())}
    take = {g: int(q) for g, q in quotas.items()}
    short = n - sum(take.values())
    for g in sorted(quotas, key=lambda g: (take[g] - quotas[g], g))[:short]:
        take[g] += 1
    picked = [i for g in sorted(groups) for i in rng.sample(groups[g], take[g])]
    rng.shuffle(picked)
    return picked


def sample(repo_root: Path, cache: Path, workload: str, seed: int,
           n_pages: int, scale: int, kinds: tuple[str, ...] | None) -> Sample:
    """The run's input parquet (cached per workload, seed and generator)."""
    cache.mkdir(parents=True, exist_ok=True)
    key = generator_key(repo_root)
    pool = _pool(cache, key, scale, kinds)
    if n_pages > len(pool):
        raise ValueError(f"{workload}: {n_pages} pages asked, pool has {len(pool)}")
    labels = strata([r["kind"] for r in pool], [len(r["html"]) for r in pool])
    idx = stratified(labels, n_pages, random.Random(f"{workload}:{seed}"))
    rows = [pool[i] for i in idx]
    # the sample also depends on this module's sampling code
    sample_key = hashlib.sha256(key.encode() + Path(__file__).read_bytes()).hexdigest()[:16]
    path = cache / f"input-{sample_key}-{workload}-{seed}-{n_pages}.parquet"
    if not path.exists():
        _write([{k: r[k] for k in PAGES_ARROW_SCHEMA.names} for r in rows],
               path, with_kind=False)
    return Sample(key=sample_key, path=str(path), urls=[r["url"] for r in rows],
                  kinds=[r["kind"] for r in rows],
                  texts=[r["text"] for r in rows],
                  sizes=[len(r["html"]) for r in rows])


def kind_counts(s: Sample) -> dict[str, int]:
    counts: dict[str, int] = {}
    for k in s.kinds:
        counts[k] = counts.get(k, 0) + 1
    return dict(sorted(counts.items()))
