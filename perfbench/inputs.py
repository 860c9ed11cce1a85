"""Seeded input generators for the benchmark workloads.

Every corpus is a pure function of ``(seed, n_docs)``: chunk ``c`` draws
from ``RandomState([seed, c])``, so the content does not depend on how
many processes write it. Each chunk becomes one parquet file, so scan
parallelism comes from the source layout, as in a real lake.

- span corpora (``convert_fresh``, ``rename``, the base of
  ``convert_resume``) come from ``sources.synth``: heavy-tailed line
  counts, ~10% docs with media spans, ~5% hot-host ids, ~8% legacy-coded
  and ~4% invalid-coded filenames, a caselaw/statute/prose mix;
- ``write_resume_corpus`` also writes the changed input for the resume
  run: one text span altered in ~5% of docs, ~1% new docs;
- ``write_web_corpus`` is the curate funnel's web-text corpus: skewed
  sources, 2% exact and 2% near duplicates, 20% shared boilerplate
  paragraphs, 3% junk pages.
"""

from __future__ import annotations

import json
import multiprocessing
import os
import subprocess
import sys

SPAN_FILES = 128
WEB_FILES = 16

MODIFIED_SHARE = 0.05
NEW_SHARE = 0.01
AMEND_SUFFIX = " (amended)"
CHANGES_SUFFIX = "_changes"  # sibling dir listing modified and new doc ids


def _write_span_table(path: str, docs: list[tuple]) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    from modern_document_converter_for_ai_library_spark.sources.synth import (
        DOCS_SCHEMA,
    )

    table = pa.Table.from_pydict(
        {
            "doc_id": [d[0] for d in docs],
            "source_file": [d[1] for d in docs],
            "spans": [d[2] for d in docs],
        },
        schema=to_arrow_schema(DOCS_SCHEMA),
    )
    pq.write_table(table, path)


def _amend(rng, spans: list[dict]) -> list[dict]:
    """Copy of ``spans`` with one non-empty text span changed."""
    texts = [j for j, s in enumerate(spans) if s["kind"] == "text" and s["text"]]
    out = [dict(s) for s in spans]
    j = texts[rng.randint(len(texts))]
    out[j]["text"] = out[j]["text"] + AMEND_SUFFIX
    return out


def _span_chunk(args: tuple) -> int:
    """Write chunk ``c`` of a span corpus of ``n_docs`` docs to ``out_dir``;
    with ``changed_dir`` also write its resume variant there."""
    out_dir, changed_dir, seed, c, n_chunks, n_docs = args
    import numpy as np

    from modern_document_converter_for_ai_library_spark.sources.synth import (
        _make_doc,
    )

    rng = np.random.RandomState([seed, c])
    lo, hi = c * n_docs // n_chunks, (c + 1) * n_docs // n_chunks
    docs = [_make_doc(rng, i) for i in range(lo, hi)]
    _write_span_table(os.path.join(out_dir, f"part-{c:04d}.parquet"), docs)
    if changed_dir is None:
        return len(docs)
    mod_rng = np.random.RandomState([seed, c, 1])
    changed, modified = [], []
    for d in docs:
        if mod_rng.rand() < MODIFIED_SHARE:
            d = (d[0], d[1], _amend(mod_rng, d[2]))
            modified.append(d[0])
        changed.append(d)
    n_new = int(round(NEW_SHARE * n_docs / n_chunks))
    new_lo = n_docs + c * n_new
    new = [_make_doc(mod_rng, i) for i in range(new_lo, new_lo + n_new)]
    _write_span_table(os.path.join(changed_dir, f"part-{c:04d}.parquet"), changed + new)
    with open(os.path.join(changed_dir + CHANGES_SUFFIX, f"part-{c:04d}.json"), "w") as f:
        json.dump({"modified": modified, "new": [d[0] for d in new]}, f)
    return len(docs)


_STOP = ["the", "of", "and", "to", "in"]
_SOURCE_P = [0.35, 0.2, 0.15, 0.1, 0.08, 0.06, 0.04, 0.02]
JUNK_TEXT = "@@ ## !! zz"


def _web_chunk(args: tuple) -> int:
    """Write chunk ``c`` of the curate corpus: (doc_id bigint, source, text)."""
    out_dir, _, seed, c, n_chunks, n_docs = args
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.RandomState([seed, c])
    boiler = [" ".join(f"bl{p}w{j}" for j in range(30)) for p in range(100)]
    lo, hi = c * n_docs // n_chunks, (c + 1) * n_docs // n_chunks
    ids, sources, texts = [], [], []
    prev = None
    for i in range(lo, hi):
        src = f"src{rng.choice(8, p=_SOURCE_P)}"
        n_tok = 120 + int(rng.randint(180))
        toks = [
            _STOP[(j // 4) % 5] if j % 4 == 0 else f"d{i}w{j}"
            for j in range(n_tok)
        ]
        r = rng.rand()
        long_prev = prev is not None and prev.count(" ") > 20
        if long_prev and r < 0.02:
            text = prev  # exact duplicate of the previous page
        elif long_prev and r < 0.04:
            ptoks = prev.split(" ")  # near duplicate: two tokens changed
            ptoks[5], ptoks[-5] = f"n{i}a", f"n{i}b"
            text = " ".join(ptoks)
        elif r < 0.07:
            text = JUNK_TEXT
        else:
            if rng.rand() < 0.2:
                para = boiler[rng.randint(100)].split(" ")
                ins = int(rng.randint(n_tok))
                toks[ins:ins] = para
            text = " ".join(toks)
        prev = text
        ids.append(i)
        sources.append(src)
        texts.append(text)
    table = pa.Table.from_pydict(
        {"doc_id": ids, "source": sources, "text": texts},
        schema=pa.schema(
            [("doc_id", pa.int64()), ("source", pa.string()), ("text", pa.string())]
        ),
    )
    pq.write_table(table, os.path.join(out_dir, f"part-{c:04d}.parquet"))
    return hi - lo


def _run_chunks(fn, out_dir, changed_dir, seed, n_files, n_docs, procs, in_child=False):
    """Write ``n_files`` chunks with at most ``procs`` processes. A pool
    runs in a child interpreter, so its helper processes (the
    multiprocessing resource tracker) end before this call returns."""
    os.makedirs(out_dir, exist_ok=True)
    if changed_dir is not None:
        os.makedirs(changed_dir, exist_ok=True)
        os.makedirs(changed_dir + CHANGES_SUFFIX, exist_ok=True)
    procs = max(1, min(procs or os.cpu_count() or 1, n_files))
    if procs > 1 and not in_child:
        spec = json.dumps([fn.__name__, out_dir, changed_dir, seed, n_files, n_docs, procs])
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        env = dict(os.environ)
        env["PYTHONPATH"] = os.pathsep.join(filter(None, [root, env.get("PYTHONPATH")]))
        subprocess.run([sys.executable, "-m", "perfbench.inputs", spec], check=True, env=env)
        return
    jobs = [(out_dir, changed_dir, seed, c, n_files, n_docs) for c in range(n_files)]
    if procs == 1:
        written = sum(map(fn, jobs))
    else:
        with multiprocessing.get_context("spawn").Pool(procs) as pool:
            written = sum(pool.map(fn, jobs))
    if written != n_docs:
        raise RuntimeError(f"generated {written} docs, expected {n_docs}")


def write_span_corpus(out_dir: str, n_docs: int, seed: int, procs: int | None = None) -> None:
    _run_chunks(_span_chunk, out_dir, None, seed, SPAN_FILES, n_docs, procs)


def write_resume_corpus(
    base_dir: str, changed_dir: str, n_docs: int, seed: int, procs: int | None = None
) -> None:
    """``base_dir`` gets the earlier input, ``changed_dir`` the new one."""
    _run_chunks(_span_chunk, base_dir, changed_dir, seed, SPAN_FILES, n_docs, procs)


def write_web_corpus(out_dir: str, n_docs: int, seed: int, procs: int | None = None) -> None:
    _run_chunks(_web_chunk, out_dir, None, seed, WEB_FILES, n_docs, procs)


def read_span_docs(path: str, ids=None) -> list[tuple[str, str, list[dict]]]:
    """(doc_id, source_file, spans) for every doc under ``path``, or for
    the docs in ``ids``."""
    import pyarrow.compute as pc
    import pyarrow.dataset as ds

    flt = None if ids is None else pc.field("doc_id").isin(list(ids))
    t = ds.dataset(path, format="parquet").to_table(filter=flt)
    return list(
        zip(
            t.column("doc_id").to_pylist(),
            t.column("source_file").to_pylist(),
            t.column("spans").to_pylist(),
        )
    )


def read_doc_ids(path: str) -> list:
    import pyarrow.parquet as pq

    return pq.read_table(path, columns=["doc_id"]).column("doc_id").to_pylist()


def read_changes(changed_dir: str) -> tuple[list[str], list[str]]:
    """(modified ids, new ids) recorded by ``write_resume_corpus``."""
    modified, new = [], []
    for name in sorted(os.listdir(changed_dir + CHANGES_SUFFIX)):
        with open(os.path.join(changed_dir + CHANGES_SUFFIX, name)) as f:
            rec = json.load(f)
        modified += rec["modified"]
        new += rec["new"]
    return modified, new


def span_profile(path: str) -> dict:
    """Measured shares of the properties the convert and rename paths
    branch on, over every doc under ``path``."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from modern_document_converter_for_ai_library_spark.reference_semantics.codes import (
        _CODE_IN_NAME,
    )

    t = pq.read_table(path, columns=["doc_id", "source_file", "spans"])
    n = t.num_rows
    spans = t.column("spans").combine_chunks()
    kinds = pc.struct_field(pc.list_flatten(spans), "kind")
    media_docs = pc.filter(pc.list_parent_indices(spans), pc.not_equal(kinds, "text"))
    sf = t.column("source_file")
    coded = pc.sum(pc.match_substring(sf, "----")).as_py() or 0
    legacy = pc.sum(pc.match_substring_regex(sf, _CODE_IN_NAME.pattern)).as_py() or 0
    return {
        "input.docs": n,
        "input.media_share": len(pc.unique(media_docs)) / n,
        "input.hot_host_share": (
            pc.sum(pc.starts_with(t.column("doc_id"), "hot_host_")).as_py() or 0
        ) / n,
        "input.legacy_code_share": legacy / n,
        "input.invalid_code_share": (coded - legacy) / n,
    }


if __name__ == "__main__":
    name, *rest = json.loads(sys.argv[1])
    _run_chunks(globals()[name], *rest, in_child=True)
