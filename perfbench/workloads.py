"""The benchmark workloads: inputs, the production job call, the output
check, and the traced layer-by-layer run of the same job.

Each workload runs a job entry point (``jobs/convert_job.main`` or
``jobs/curate_job.main``) inside the benchmark's session, so the timed
code path is the one ``spark-submit`` runs. The traced run calls the same
layers' public functions in the job's order, one span per layer, and
materializes each layer's output (persist + count) before its span ends,
so each span holds only its own layer's work.
"""

from __future__ import annotations

import contextlib
import glob
import io
import json
import os
import shutil
from collections import Counter

import numpy as np

from . import inputs, reference

SAMPLE_DOCS = 256


def _rm(*paths: str) -> None:
    for p in paths:
        shutil.rmtree(p, ignore_errors=True)


def count_parquet_files(*dirs: str) -> int:
    return sum(
        len(glob.glob(os.path.join(d, "**", "*.parquet"), recursive=True))
        for d in dirs
    )


def _call_job(main, argv: list[str]) -> str:
    """Run a job's ``main`` and return what it printed (its JSON line)."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = main(argv)
    if rc != 0:
        raise RuntimeError(f"job exited with {rc}")
    return buf.getvalue()


def _read_output(path: str, columns: list[str], ids=None):
    import pyarrow.compute as pc
    import pyarrow.dataset as ds

    d = ds.dataset(path, format="parquet", partitioning="hive")
    flt = None if ids is None else pc.field("doc_id").isin(list(ids))
    return d.to_table(columns=columns, filter=flt).to_pylist()


def _layer_sql(span, key: str, kernel: str) -> float:
    return span.sql_sum(key, node="MapInPandas", desc=kernel)


class Workload:
    """One workload. Subclasses set ``name`` and ``n_docs``, and
    ``warm_docs`` when the untimed warm-up run should use a corpus of that
    many docs instead of the workload's own input."""

    name = ""
    n_docs = 0
    warm_docs = 0

    def __init__(self, work_dir: str, seed: int, cpus: int, n_docs: int | None = None):
        self.work = work_dir
        self.seed = seed
        self.cpus = cpus
        if n_docs is not None:
            self.n_docs = n_docs
        self.master = f"local[{cpus}]"

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def warm_up(self, spark, procs: int) -> None:
        """One untimed job run, so that JIT compilation, generated-code
        compilation and the first Python imports of the job's kernels
        happen before timing. A first run in a fresh JVM takes about
        twice as long as a warm one."""
        warm = self
        if self.warm_docs:
            warm = type(self)(self.path("warm"), self.seed, self.cpus, self.warm_docs)
            warm.generate(procs)
        warm.reset(spark)
        warm.run_job()
        if warm is not self:
            _rm(warm.work)

    # -- lifecycle -------------------------------------------------------
    def generate(self, procs: int) -> None:
        """Write the seeded inputs (no Spark)."""
        raise NotImplementedError

    def prepare(self, spark) -> None:
        """Expected outputs and anything else the timed runs need."""

    def reset(self, spark) -> None:
        """Put the target back in its pre-run state (outside timing)."""

    def run_job(self) -> str:
        raise NotImplementedError

    def check(self, job_stdout: str | None) -> int:
        """Input docs without a correct output row in the last run.
        ``job_stdout`` is the job's printed JSON, None after a traced run
        (which calls the layers directly and prints nothing)."""
        raise NotImplementedError

    def output_files(self) -> int:
        raise NotImplementedError

    def traced(self, spark, tracer) -> dict:
        """Run the job layer by layer under ``tracer``; return the layer
        metrics this workload exercises."""
        raise NotImplementedError

    def profile(self) -> dict:
        return {}


class _ConvertBase(Workload):
    """Shared by both convert workloads: run_resumable_convert via
    ``convert_job --mode convert``."""

    input_dir = ""
    _files_before = 0  # files the target held before the run

    def _target(self):
        out = self.path("out")
        return out, out + "_manifest"

    def run_job(self) -> str:
        from jobs import convert_job

        out, _ = self._target()
        return _call_job(
            convert_job.main,
            ["--input", self.input_dir, "--output", out, "--mode", "convert",
             "--master", self.master],
        )

    def output_files(self) -> int:
        return count_parquet_files(*self._target()) - self._files_before

    def _expect_sample(self, sample_ids) -> None:
        """Reference rows of the sampled docs, from ``convert_spans_doc``."""
        from modern_document_converter_for_ai_library_spark.reference_semantics.convert import (
            convert_spans_doc,
        )

        self.expected = {}
        for doc_id, source_file, spans in inputs.read_span_docs(self.input_dir, sample_ids):
            res = convert_spans_doc(doc_id, spans, source_file=source_file)
            self.expected[doc_id] = (
                reference.input_hash(spans),
                [
                    (s["kind"], s["text"], s["media_ref"], s["offset"])
                    for s in res["spans"]
                ],
                res["document_type"],
                res["success"],
                res["error_message"],
            )

    def _check_rows(self) -> int:
        """Docs whose output row count differs from ``self.want`` (doc_id
        -> rows), plus rows of unknown docs, plus sampled docs whose row
        under their current input_hash differs from the reference."""
        out, _ = self._target()
        got = Counter(r["doc_id"] for r in _read_output(out, ["doc_id"]))
        failed = sum(1 for d, n in self.want.items() if got.get(d, 0) != n)
        failed += sum(1 for d in got if d not in self.want)
        rows = _read_output(
            out,
            ["doc_id", "input_hash", "spans", "document_type", "success",
             "error_message"],
            ids=self.expected,
        )
        seen = Counter()
        ok = set()
        for r in rows:
            exp = self.expected[r["doc_id"]]
            if r["input_hash"] != exp[0]:
                continue  # the stale row of a modified doc
            seen[r["doc_id"]] += 1
            row = (
                r["input_hash"],
                [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]],
                r["document_type"],
                r["success"],
                r["error_message"],
            )
            if row == exp:
                ok.add(r["doc_id"])
        failed += sum(1 for d in self.expected if seen[d] != 1 or d not in ok)
        return min(failed, self.n_docs)

    def traced(self, spark, tracer) -> dict:
        from modern_document_converter_for_ai_library_spark.operators.convert import (
            convert_documents,
        )
        from modern_document_converter_for_ai_library_spark.operators.manifest import (
            commit_with_manifest,
            resume_pending,
            with_input_hash,
        )
        from modern_document_converter_for_ai_library_spark.sources.catalog import (
            current_snapshot_id,
            read_documents,
        )

        out, manifest = self._target()
        with tracer.span("sources") as s_src:
            inp = read_documents(spark, self.input_dir).persist()
            n_in = inp.count()
            snapshot = current_snapshot_id(spark, self.input_dir)
        with tracer.span("manifest.hash") as s_hash:
            hashed = with_input_hash(inp).persist()
            hashed.count()
        with tracer.span("manifest.resume") as s_res:
            pending = resume_pending(hashed, out).persist()
            n_pending = pending.count()
        with tracer.span("convert") as s_conv:
            conv = convert_documents(pending).persist()
            conv.count()
        with tracer.span("manifest.commit") as s_commit:
            commit_with_manifest(conv, out, manifest, input_snapshot=snapshot)
        for df in (conv, pending, hashed, inp):
            df.unpersist()
        k = "_convert_batches"
        return {
            "sources.scan_s": s_src.wall_s,
            "sources.rows_in": s_src.sql_sum("numOutputRows", node="Scan"),
            "sources.bytes_in": s_src.sql_sum("filesSize", node="Scan"),
            "sources.tasks": s_src.stage_sum("tasks"),
            "manifest.hash_s": s_hash.wall_s,
            "manifest.resume_s": s_res.wall_s,
            "manifest.output_rows_read": s_res.sql_sum("numOutputRows", node="Scan"),
            "manifest.commit_s": s_commit.wall_s,
            "manifest.pending_share": n_pending / n_in,
            "convert.kernel_s": s_conv.wall_s,
            "convert.python_s": _layer_sql(s_conv, "pythonTotalTime", k),
            "convert.python_us_per_doc": (
                _layer_sql(s_conv, "pythonTotalTime", k) * 1e6 / max(n_pending, 1)
            ),
            "convert.python_boot_s": _layer_sql(s_conv, "pythonBootTime", k),
            "convert.python_init_s": _layer_sql(s_conv, "pythonInitTime", k),
            "convert.arrow_sent_bytes": _layer_sql(s_conv, "pythonDataSent", k),
            "convert.arrow_recv_bytes": _layer_sql(s_conv, "pythonDataReceived", k),
        }


class ConvertFresh(_ConvertBase):
    name = "convert_fresh"
    n_docs = 16_000

    def generate(self, procs: int) -> None:
        self.input_dir = self.path("input")
        inputs.write_span_corpus(self.input_dir, self.n_docs, self.seed, procs)

    def prepare(self, spark) -> None:
        ids = sorted(inputs.read_doc_ids(self.input_dir))
        self.want = Counter(ids)
        rng = np.random.RandomState([self.seed, 7])
        sample = rng.choice(len(ids), min(SAMPLE_DOCS, len(ids)), replace=False)
        self._expect_sample([ids[i] for i in sample])

    def reset(self, spark) -> None:
        _rm(*self._target())

    def check(self, job_stdout: str | None) -> int:
        return self._check_rows()

    def profile(self) -> dict:
        return inputs.span_profile(self.input_dir)


class ConvertResume(_ConvertBase):
    name = "convert_resume"
    n_docs = 40_000

    def generate(self, procs: int) -> None:
        self.base_dir = self.path("input_base")
        self.input_dir = self.path("input")
        inputs.write_resume_corpus(
            self.base_dir, self.input_dir, self.n_docs, self.seed, procs
        )
        self.modified, self.new = inputs.read_changes(self.input_dir)
        self.n_docs += len(self.new)

    def prepare(self, spark) -> None:
        from jobs import convert_job

        # the earlier output: a full conversion of the base input, made
        # once and restored before every run
        self.pristine = self.path("pristine")
        _call_job(
            convert_job.main,
            ["--input", self.base_dir, "--output", self.pristine, "--mode",
             "convert", "--master", self.master],
        )
        ids = inputs.read_doc_ids(self.input_dir)
        # resume appends and never deletes: a modified doc keeps its stale
        # row next to the new one
        self.want = Counter(ids)
        self.want.update(self.modified)
        rng = np.random.RandomState([self.seed, 7])
        pending = sorted(self.modified + self.new)
        kept = sorted(set(ids) - set(pending))
        half = SAMPLE_DOCS // 2
        sample = [pending[i] for i in rng.choice(len(pending), min(half, len(pending)), replace=False)]
        sample += [kept[i] for i in rng.choice(len(kept), half, replace=False)]
        self._expect_sample(sample)

    def reset(self, spark) -> None:
        out, manifest = self._target()
        _rm(out, manifest)
        shutil.copytree(self.pristine, out)
        shutil.copytree(self.pristine + "_manifest", manifest)
        self._files_before = count_parquet_files(out, manifest)

    def check(self, job_stdout: str | None) -> int:
        failed = self._check_rows()
        if job_stdout is not None:
            n_pending = json.loads(job_stdout.strip().splitlines()[-1])["n_pending"]
            failed += abs(n_pending - len(self.modified) - len(self.new))
        return min(self.n_docs, failed)

    def profile(self) -> dict:
        p = inputs.span_profile(self.input_dir)
        p["input.modified_share"] = len(self.modified) / self.n_docs
        p["input.new_share"] = len(self.new) / self.n_docs
        return p


_RENAME_COLS = [
    "document_type", "case_name", "year", "court", "citation",
    "discovered_code", "metadata_ok", "code_index", "unique_code",
    "new_filename", "rename_success", "error_message",
]


class _Scope:
    """A ``cache_scope`` that records what the operator persisted, so the
    traced run can materialize the rename kernel output on its own."""

    def __init__(self):
        self.frames = []

    def persist(self, df, level):
        df = df.persist(level)
        self.frames.append(df)
        return df


class Rename(Workload):
    name = "rename"
    n_docs = 4_000

    def generate(self, procs: int) -> None:
        self.input_dir = self.path("input")
        inputs.write_span_corpus(self.input_dir, self.n_docs, self.seed, procs)

    def prepare(self, spark) -> None:
        from modern_document_converter_for_ai_library_spark.reference_semantics.convert import (
            rename_corpus_sequential,
        )

        rows = rename_corpus_sequential(
            [(d, spans, sf) for d, sf, spans in inputs.read_span_docs(self.input_dir)],
            start_index=0,
        )
        self.expected = {r["doc_id"]: tuple(r[c] for c in _RENAME_COLS) for r in rows}

    def reset(self, spark) -> None:
        spark.catalog.clearCache()  # the job leaves its kernel output cached
        _rm(self.path("out"))

    def run_job(self) -> str:
        from jobs import convert_job

        return _call_job(
            convert_job.main,
            ["--input", self.input_dir, "--output", self.path("out"), "--mode",
             "rename", "--master", self.master],
        )

    def check(self, job_stdout: str | None) -> int:
        rows = _read_output(self.path("out"), ["doc_id"] + _RENAME_COLS)
        got = Counter(r["doc_id"] for r in rows)
        failed = sum(1 for d in self.expected if got.get(d, 0) != 1)
        failed += sum(1 for d in got if d not in self.expected)
        for r in rows:
            exp = self.expected.get(r["doc_id"])
            if exp is not None and got[r["doc_id"]] == 1:
                failed += tuple(r[c] for c in _RENAME_COLS) != exp
        return min(failed, self.n_docs)

    def output_files(self) -> int:
        return count_parquet_files(self.path("out"))

    def traced(self, spark, tracer) -> dict:
        from pyspark.sql import functions as F

        from modern_document_converter_for_ai_library_spark.operators.rename import (
            rename_documents,
        )
        from modern_document_converter_for_ai_library_spark.reference_semantics.codes import (
            DUP_ALLOC_ERR,
            DUP_CLAIM_ERR,
        )
        from modern_document_converter_for_ai_library_spark.sources.catalog import (
            read_documents,
            write_documents,
        )

        with tracer.span("sources") as s_src:
            inp = read_documents(spark, self.input_dir).persist()
            inp.count()
        scope = _Scope()
        with tracer.span("rename") as s_ren:
            out = rename_documents(inp, start_index=0, cache_scope=scope)
            scope.frames[0].count()  # the kernel output
        with tracer.span("codes") as s_codes:
            out = out.persist()
            out.count()
        with tracer.span("sink"):
            write_documents(out, self.path("out"), mode="overwrite")
        contested = out.filter(
            F.col("error_message").isin(DUP_CLAIM_ERR, DUP_ALLOC_ERR)
        ).count()
        for df in [out, inp] + scope.frames:
            df.unpersist()
        k = "_rename_batches"
        return {
            "sources.scan_s": s_src.wall_s,
            "sources.rows_in": s_src.sql_sum("numOutputRows", node="Scan"),
            "sources.bytes_in": s_src.sql_sum("filesSize", node="Scan"),
            "sources.tasks": s_src.stage_sum("tasks"),
            "rename.kernel_s": s_ren.wall_s,
            "rename.python_s": _layer_sql(s_ren, "pythonTotalTime", k),
            "rename.arrow_sent_bytes": _layer_sql(s_ren, "pythonDataSent", k),
            "codes.assign_s": s_codes.wall_s,
            "codes.contested_docs": contested,
        }

    def profile(self) -> dict:
        return inputs.span_profile(self.input_dir)


class CurateFunnel(Workload):
    name = "curate_funnel"
    n_docs = 2_500
    warm_docs = 250  # a warm-up on the full input costs ~22 s
    shuffle_salt = "perfbench"
    shard_tokens = 100_000

    @property
    def mix_default(self) -> int:
        # caps the big sources, keeps the small ones whole
        return 25 * self.n_docs

    def _target(self):
        out = self.path("out")
        return out, out + "_manifest"

    def generate(self, procs: int) -> None:
        self.input_dir = self.path("input")
        inputs.write_web_corpus(self.input_dir, self.n_docs, self.seed, procs)

    def prepare(self, spark) -> None:
        self.expected = reference.curate_expected(
            self.input_dir, self.mix_default, self.shuffle_salt, self.shard_tokens
        )

    def reset(self, spark) -> None:
        spark.catalog.clearCache()
        _rm(*self._target())

    def run_job(self) -> str:
        from jobs import curate_job

        out, _ = self._target()
        return _call_job(
            curate_job.main,
            ["--input", self.input_dir, "--output", out,
             "--mix-default", str(self.mix_default),
             "--shuffle-salt", self.shuffle_salt,
             "--shard-tokens", str(self.shard_tokens),
             "--master", self.master],
        )

    def _check_placement(self) -> int:
        out, _ = self._target()
        rows = _read_output(out, ["doc_id", "shard_id", "shuffle_rank"])
        got = {}
        failed = 0
        for r in rows:
            if r["doc_id"] in got:
                failed += 1  # duplicated
            got[r["doc_id"]] = (int(r["shard_id"]), r["shuffle_rank"])
        want = self.expected["placed"]
        if reference.placement_checksum(got) == self.expected["checksum"] and not failed:
            return 0
        failed += sum(1 for d, p in want.items() if got.get(d) != p)
        failed += sum(1 for d in got if d not in want)
        return failed

    def check(self, job_stdout: str | None) -> int:
        if job_stdout is None:
            return self._check_placement()
        res = json.loads(job_stdout.strip().splitlines()[-1])
        failed = sum(
            abs(res["stages"][name]["n_out"] - n)
            for name, n in self.expected["stages"].items()
        )
        if res["stages"]["shuffle_shard"]["n_shards"] != self.expected["n_shards"]:
            failed += 1
        if res["tokens_out"] != self.expected["tokens_out"]:
            failed += 1
        return min(self.n_docs, failed + self._check_placement())

    def output_files(self) -> int:
        return count_parquet_files(*self._target())

    def traced(self, spark, tracer) -> dict:
        from pyspark.sql import functions as F

        from modern_document_converter_for_ai_library_spark.operators.dedup import (
            exact_dedup,
            near_dedup,
            near_dup_verified_pairs,
        )
        from modern_document_converter_for_ai_library_spark.operators.quality import (
            quality_funnel,
        )
        from modern_document_converter_for_ai_library_spark.operators.sampling import (
            budget_sample,
            shuffled_shard_assign,
            shuffled_shard_manifest,
        )
        from modern_document_converter_for_ai_library_spark.queries import STOPWORDS
        from modern_document_converter_for_ai_library_spark.sources.catalog import (
            read_documents,
            write_documents,
        )

        out, manifest = self._target()
        with tracer.span("sources") as s_src:
            cur = read_documents(spark, self.input_dir).persist()
            n_in = cur.count()
        cols = cur.columns
        with tracer.span("quality") as s_q:
            kept = (
                quality_funnel(cur, STOPWORDS, carry=[c for c in cols if c != "doc_id"])
                .filter(F.col("keep"))
                .select(cols)
                .persist()
            )
            n_q = kept.count()
        with tracer.span("dedup.exact") as s_ex:
            exact = (
                exact_dedup(kept).filter(~F.col("is_duplicate")).select(cols).persist()
            )
            n_ex = exact.count()
        with tracer.span("dedup.near") as s_near:
            near = (
                near_dedup(exact)
                .filter(F.col("canonical_doc_id") == F.col("doc_id"))
                .select(cols)
                .persist()
            )
            near.count()
        # pair counts come from the same public front end near_dedup runs
        verified, pairs = near_dup_verified_pairs(exact)
        n_ver, n_cand = verified.count(), pairs.count()
        pairs.unpersist()
        with tracer.span("sampling") as s_mix:
            sampled = budget_sample(near, {}, default_budget=self.mix_default)
            mixed = near.join(
                sampled.filter(F.col("kept")).select("doc_id"), on="doc_id", how="left_semi"
            ).persist()
            n_mix = mixed.count()
            assigned = shuffled_shard_assign(
                mixed, self.shard_tokens, salt=self.shuffle_salt, n_rows=n_mix
            ).persist()
            assigned.count()
        with tracer.span("sink"):
            sharded = mixed.join(
                assigned.select("doc_id", "shuffle_rank", "shard_id"), on="doc_id"
            )
            write_documents(sharded, out, mode="overwrite", partition_by=["shard_id"])
            write_documents(shuffled_shard_manifest(assigned), manifest, mode="overwrite")
        for df in (assigned, mixed, near, exact, kept, cur):
            df.unpersist()
        return {
            "sources.scan_s": s_src.wall_s,
            "sources.rows_in": s_src.sql_sum("numOutputRows", node="Scan"),
            "sources.bytes_in": s_src.sql_sum("filesSize", node="Scan"),
            "sources.tasks": s_src.stage_sum("tasks"),
            "quality.s": s_q.wall_s,
            "quality.keep_share": n_q / n_in,
            "dedup.exact_s": s_ex.wall_s,
            "dedup.exact_keep_share": n_ex / max(n_q, 1),
            "dedup.near_s": s_near.wall_s,
            "dedup.candidate_pairs": n_cand,
            "dedup.verified_pairs": n_ver,
            "dedup.verify_yield": n_ver / max(n_cand, 1),
            "sampling.mix_shard_s": s_mix.wall_s,
        }

    def profile(self) -> dict:
        import pyarrow.parquet as pq

        texts = pq.read_table(self.input_dir, columns=["text"]).column("text").to_pylist()
        n = len(texts)
        st = self.expected["stages"]
        return {
            "input.docs": n,
            "input.exact_dup_share": (n - len(set(texts))) / n,
            "input.near_dup_share": (st["exact"] - st["near"]) / n,
            "input.junk_share": sum(t == inputs.JUNK_TEXT for t in texts) / n,
            "input.boilerplate_share": sum(" bl" in f" {t}" for t in texts) / n,
        }


WORKLOADS = {w.name: w for w in (ConvertFresh, ConvertResume, Rename, CurateFunnel)}
