"""Seeded input generators owned by the benchmark.

Nothing here imports the library, ``bench.py``, ``corpus.py`` or the test
suite, so a library change cannot change a workload's input. Each generator
is a pure function of ``(seed, size)``:

* ``crawl_pages`` builds a Common-Crawl-shaped page table with numpy and
  returns it as a pyarrow table, together with the url→url edge list the
  extractor must produce from it (the oracle's input).
* ``scale_edges_numpy`` / ``scale_edges_spark`` describe one web-like edge
  table twice: as numpy arrays (for the oracle) and as a Spark expression
  plan generated JVM-side (what the program receives).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Bump when a generator changes, so cached inputs and oracles are rebuilt.
GEN_VERSION = 4

# --- sizes --------------------------------------------------------------------

CRAWL_SIZES = {"full": 2000, "smoke": 240}
RING = 16
# (vertices, random edges before dedup)
SCALE_SIZES = {"full": (80_000, 300_000), "smoke": (2_000, 8_000)}
PAGE_FILES = 8

# --- xxhash64 -----------------------------------------------------------------

_M64 = (1 << 64) - 1
_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _round(acc: int, lane: int) -> int:
    acc = (acc + lane * _P2) & _M64
    return (_rotl(acc, 31) * _P1) & _M64


def xxhash64(data: bytes, seed: int = 42) -> int:
    """XXH64 of ``data`` as a signed 64-bit int. With the default seed this
    is Spark's ``xxhash64(string)``, the library's vertex id, so the oracle
    can name vertices without asking the program."""
    n = len(data)
    i = 0
    if n >= 32:
        v = [(seed + _P1 + _P2) & _M64, (seed + _P2) & _M64, seed & _M64,
             (seed - _P1) & _M64]
        while i + 32 <= n:
            for k in range(4):
                v[k] = _round(v[k], int.from_bytes(data[i + 8 * k:i + 8 * k + 8], "little"))
            i += 32
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)) & _M64
        for k in range(4):
            h = ((h ^ _round(0, v[k])) * _P1 + _P4) & _M64
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        h ^= _round(0, int.from_bytes(data[i:i + 8], "little"))
        h = (_rotl(h, 27) * _P1 + _P4) & _M64
        i += 8
    if i + 4 <= n:
        h ^= (int.from_bytes(data[i:i + 4], "little") * _P1) & _M64
        h = (_rotl(h, 23) * _P2 + _P3) & _M64
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & _M64
        h = (_rotl(h, 11) * _P1) & _M64
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M64
    h ^= h >> 29
    h = (h * _P3) & _M64
    h ^= h >> 32
    return h - (1 << 64) if h >= 1 << 63 else h


# --- crawl pages ----------------------------------------------------------------

_WORDS = np.array("web graph link page crawl rank node edge spark shuffle join "
                  "hash label vertex degree host".split())


def crawl_pages(seed: int, n_pages: int) -> tuple[pa.Table, list[tuple[str, str]]]:
    """A page table ``(url, warc_ts, html, text, lang)`` and the distinct
    url→url edges its html encodes.

    The link structure has what the algorithms care about: a few hub pages
    most pages link to (skew), pages with no links (dangling mass), links to
    never-crawled urls (dangling targets), ``#top`` self-links, duplicate
    hrefs, successor chains that close triangles, and a webring of ``RING``
    pages nobody links into. The ring is a closed set, so PageRank needs
    ~45 supersteps to an L1 change below 1e-6 (as link farms make real
    crawls converge slowly); and min-label WCC needs ``RING // 2 + 1``
    supersteps on it wherever its smallest id sits, more than the rest of
    the graph needs, so WCC costs the same supersteps on every seed. The
    hrefs mix the extractor's resolution paths: absolute with fragments or
    upper-case hosts, root-relative, and ``./`` / ``../`` relative forms.
    """
    rng = np.random.default_rng([seed % (1 << 32), 0xC4A71])
    n_hosts = 32
    host = np.minimum(rng.zipf(1.6, n_pages) - 1, n_hosts - 1)
    urls = [f"http://site{host[i]}.test/p{i}" for i in range(n_pages)]
    ring = rng.choice(n_pages, RING, replace=False)
    ring_next = dict(zip(ring.tolist(), np.roll(ring, -1).tolist()))
    in_ring = np.zeros(n_pages, dtype=bool)
    in_ring[ring] = True
    dangling = (rng.random(n_pages) < 0.07) & ~in_ring
    main = np.flatnonzero(~in_ring)
    hubs = rng.choice(main, 8, replace=False)

    def href(i: int, j: int) -> str:
        if host[i] == host[j]:
            form = rng.integers(3)
            if form == 0:
                return f"/p{j}"
            if form == 1:
                return f"./p{j}"
            return f"../p{j}#s{j % 5}"
        form = rng.integers(4)
        if form == 0:
            return f"HTTP://SITE{host[j]}.TEST/p{j}"
        if form == 1:
            return f"{urls[j]}#frag"
        return urls[j]

    html, edges = [], set()
    for i in range(n_pages):
        hrefs: list[str] = []
        targets: list[str] = []

        def link(j: int) -> None:
            hrefs.append(href(i, j))
            targets.append(urls[j])

        if in_ring[i]:
            link(ring_next[i])
        elif not dangling[i]:
            for j in rng.choice(main, 1 + rng.poisson(2.5)):
                link(int(j))
            for step in (1, 2):
                if i + step < n_pages and not in_ring[i + step] and rng.random() < 0.5:
                    link(i + step)
            if rng.random() < 0.6:
                hub = int(hubs[min(int(rng.zipf(2.0)) - 1, len(hubs) - 1)])
                link(hub)
                link(hub)  # duplicate href
            if rng.random() < 0.06:
                ext = f"http://external{i % 4}.test/missing{i}"
                hrefs.append(ext)
                targets.append(ext)
            if rng.random() < 0.09:
                hrefs.append("#top")
                targets.append(urls[i])
        words = " ".join(_WORDS[rng.integers(len(_WORDS), size=12)])
        anchors = "".join(f'<a href="{h}">to {k}</a> ' for k, h in enumerate(hrefs))
        html.append(
            f"<html><head><title>Page {i}</title></head><body><h1>Doc {i}</h1>"
            f"<p>{words}</p>\n{anchors}\n</body></html>".encode()
        )
        edges.update((urls[i], t) for t in targets)

    lang = np.where(np.arange(n_pages) % 19 == 0, "de", "en")
    table = pa.table({
        "url": pa.array(urls, pa.string()),
        "warc_ts": pa.array(
            (1_704_067_200 + np.arange(n_pages, dtype=np.int64)) * 1_000_000,
            pa.timestamp("us", tz="UTC"),
        ),
        "html": pa.array(html, pa.binary()),
        # the stored text is stale or missing; the program re-extracts it
        "text": pa.array([None if i % 5 == 0 else f"stale {i}" for i in range(n_pages)],
                         pa.string()),
        "lang": pa.array(lang.tolist(), pa.string()),
    })
    return table, sorted(edges)


def write_pages(table: pa.Table, out_dir: str) -> None:
    """Write ``table`` as ``PAGE_FILES`` parquet files, so a scan has more
    than one split as a real crawl segment would."""
    step = -(-table.num_rows // PAGE_FILES)
    for k in range(PAGE_FILES):
        pq.write_table(table.slice(k * step, step), f"{out_dir}/part-{k:02d}.parquet")


# --- pagerank_scale edges ---------------------------------------------------------

_Q = 2_147_483_629  # prime modulus of the second coordinate; keeps products < 2^63


def _scale_constants(seed: int) -> dict[str, int]:
    rng = np.random.default_rng([seed % (1 << 32), 0x5CA1E])
    c = {k: int(rng.integers(1, 1 << 20)) for k in ("a", "b", "d", "e", "g", "h")}
    c["c"] = int(rng.integers(1, 1 << 30))
    return c


def scale_edges_numpy(seed: int, n_vertices: int, n_random: int) -> np.ndarray:
    """(src, dst) int64 rows before dedup; the numpy mirror of
    ``scale_edges_spark``. Random edges, 1% of them into 16 hub ids, plus a
    v→v/16 backbone that keeps the diameter web-like (O(log n)). A fanout-16
    backbone bounds every vertex's distance to vertex 0, so WCC takes the
    same number of supersteps on every seed (6 at the full size; a v→v/2
    backbone gave 7 to 12)."""
    c = _scale_constants(seed)
    i = np.arange(n_random, dtype=np.int64)
    src = (i * c["a"] + c["b"]) % n_vertices
    t = (i * i + c["d"] * i + c["e"]) % _Q
    dst = np.where((i * c["g"] + c["h"]) % 100 < 1, i % 16, (t * c["c"]) % n_vertices)
    keep = src != dst
    v = np.arange(1, n_vertices, dtype=np.int64)
    return np.concatenate([
        np.stack([src[keep], dst[keep]], axis=1),
        np.stack([v, v // 16], axis=1),
    ])


def scale_edges_spark(spark, seed: int, n_vertices: int, n_random: int, partitions: int):
    """The same rows as ``scale_edges_numpy``, generated JVM-side."""
    from pyspark.sql import functions as F

    c = _scale_constants(seed)
    i = F.col("id")
    n = F.lit(n_vertices)
    t = F.pmod(i * i + F.lit(c["d"]) * i + F.lit(c["e"]), F.lit(_Q))
    dst = F.when(F.pmod(i * F.lit(c["g"]) + F.lit(c["h"]), F.lit(100)) < 1, F.pmod(i, F.lit(16))) \
        .otherwise(F.pmod(t * F.lit(c["c"]), n))
    rand = (
        spark.range(0, n_random, 1, partitions)
        .select(F.pmod(i * F.lit(c["a"]) + F.lit(c["b"]), n).alias("src"), dst.alias("dst"))
        .where(F.col("src") != F.col("dst"))
    )
    backbone = spark.range(1, n_vertices, 1, partitions).select(
        F.col("id").alias("src"), F.floor(F.col("id") / 16).cast("long").alias("dst")
    )
    return rand.unionByName(backbone)
