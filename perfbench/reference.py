"""Expected outputs, computed outside Spark, that the benchmark checks
every job run against.

- ``input_hash``: the resume key ``operators.manifest.with_input_hash``
  computes in the JVM, recomputed here from its definition (sha256 over
  the length-prefixed kind, text and media_ref of every span);
- ``curate_expected``: an independent evaluation of the curate funnel
  (quality -> exact -> near -> token-budget mix -> shuffled shards). The
  quality verdicts come from the repo's DuckDB oracle for
  ``quality_funnel``; the other stages are re-derived here in plain
  Python from each operator's documented semantics.
"""

from __future__ import annotations

import hashlib
from collections import defaultdict

MICRO = 1_000_000
NEAR_THRESHOLD_MICROS = 500_000  # curate_job --near-threshold default
NEAR_BANDS = 4  # near_dedup defaults: 4 bands of 1 row, 3-word shingles
SHINGLE_WIDTH = 3


def input_hash(spans: list[dict]) -> str:
    def framed(v):
        v = "" if v is None else v
        return f"{len(v)}:{v}"

    canon = "".join(
        framed(s["kind"]) + framed(s["text"]) + framed(s["media_ref"])
        for s in spans
    )
    return hashlib.sha256(canon.encode("utf-8")).hexdigest()


def _md5(s: str) -> str:
    return hashlib.md5(s.encode("utf-8")).hexdigest()


def tokens(text: str) -> list[str]:
    """The repo-wide token convention: single-space split, empties dropped."""
    return [t for t in text.split(" ") if t]


def quality_keep(corpus_dir: str) -> dict[int, bool]:
    """doc_id -> keep, from the DuckDB oracle SQL of ``quality_funnel``."""
    import duckdb

    from modern_document_converter_for_ai_library_spark.queries import _funnel_sql

    con = duckdb.connect()
    try:
        con.execute("SET threads TO 4")
        con.execute(
            "CREATE VIEW documents AS SELECT doc_id, text FROM "
            f"read_parquet('{corpus_dir}/*.parquet')"
        )
        rows = con.execute(f"SELECT doc_id, keep FROM ({_funnel_sql()})").fetchall()
    finally:
        con.close()
    return {int(d): bool(k) for d, k in rows}


def _near_survivors(docs: dict[int, str]) -> tuple[set[int], int, int]:
    """MinHash LSH (4 bands x 1 row over md5 slices of 3-word shingles),
    exact Jaccard verify on distinct shingle hashes, then connected
    components labelled by their minimum id. Returns (ids whose label is
    their own id, candidate pairs, verified pairs)."""
    sets: dict[int, set[str]] = {}
    buckets: dict[tuple[int, str], list[int]] = defaultdict(list)
    for doc_id, text in docs.items():
        toks = tokens(text)
        if len(toks) < SHINGLE_WIDTH:
            continue
        hashes = {
            _md5(" ".join(toks[i : i + SHINGLE_WIDTH]))
            for i in range(len(toks) - SHINGLE_WIDTH + 1)
        }
        sets[doc_id] = hashes
        for k in range(NEAR_BANDS):
            buckets[(k, min(h[8 * k : 8 * k + 8] for h in hashes))].append(doc_id)
    pairs = set()
    for ids in buckets.values():
        ids = sorted(ids)
        for i, a in enumerate(ids):
            for b in ids[i + 1 :]:
                pairs.add((a, b))
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.get(x, x) != x:
            x = parent[x]
        return x

    verified = 0
    for a, b in pairs:
        inter = len(sets[a] & sets[b])
        union = len(sets[a]) + len(sets[b]) - inter
        if inter * MICRO // union >= NEAR_THRESHOLD_MICROS:
            verified += 1
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    return {d for d in docs if find(d) == d}, len(pairs), verified


def curate_expected(
    corpus_dir: str, mix_default: int, shuffle_salt: str, shard_tokens: int
) -> dict:
    """Stage survivor counts and the final (shard_id, shuffle_rank) of
    every surviving doc for ``curate_job --mix-default --shuffle-salt
    --shard-tokens`` with every other flag at its default."""
    import pyarrow.parquet as pq

    t = pq.read_table(corpus_dir, columns=["doc_id", "source", "text"])
    ids = t.column("doc_id").to_pylist()
    source = dict(zip(ids, t.column("source").to_pylist()))
    text = dict(zip(ids, t.column("text").to_pylist()))
    keep = quality_keep(corpus_dir)
    cur = [d for d in ids if keep[d]]
    n_quality = len(cur)

    canonical: dict[str, int] = {}
    for d in cur:
        h = _md5(text[d])
        canonical[h] = min(d, canonical.get(h, d))
    cur = [d for d in cur if canonical[_md5(text[d])] == d]
    n_exact = len(cur)

    survivors, n_cand, n_ver = _near_survivors({d: text[d] for d in cur})
    cur = [d for d in cur if d in survivors]
    n_near = len(cur)

    n_tok = {d: len(tokens(text[d])) for d in cur}
    by_source: dict[str, list[int]] = defaultdict(list)
    for d in cur:
        by_source[source[d]].append(d)
    mixed = []
    for src_ids in by_source.values():
        src_ids.sort(key=lambda d: (int(_md5(str(d))[:8], 16) % MICRO, d))
        cum = 0
        for d in src_ids:
            cum += n_tok[d]
            if cum <= mix_default and mix_default > 0:
                mixed.append(d)
    n_mix = len(mixed)

    mixed.sort(key=lambda d: (int(_md5(f"{d}{shuffle_salt}")[:15], 16), d))
    placed: dict[int, tuple[int, int]] = {}
    cum = 0
    for rank, d in enumerate(mixed):
        cum += n_tok[d]
        placed[d] = ((cum - n_tok[d]) // shard_tokens, rank)
    return {
        "stages": {
            "quality": n_quality,
            "exact": n_exact,
            "near": n_near,
            "mix": n_mix,
        },
        "n_shards": len({s for s, _ in placed.values()}),
        "tokens_out": sum(n_tok[d] for d in mixed),
        "placed": placed,
        "checksum": placement_checksum(placed),
        "candidate_pairs": n_cand,
        "verified_pairs": n_ver,
    }


def placement_checksum(placed: dict[int, tuple[int, int]]) -> int:
    """Order-insensitive checksum of (doc_id, shard_id, shuffle_rank)."""
    return sum(
        int(_md5(f"{d}:{s}:{r}")[:15], 16) for d, (s, r) in placed.items()
    ) % (1 << 60)
