"""Metric names, units and directions.

``END_TO_END`` is what ``--trace 0`` prints; ``PER_LAYER`` is what
``--trace 1`` prints. ``BENCHMARK.json`` lists the same names (a test
keeps them in step); ``README.md`` maps each layer to the end-to-end
metric it should move.
"""

from __future__ import annotations

# (name, unit, better)
END_TO_END = [
    ("job_s", "s", "lower"),
    ("docs_per_s", "docs/s", "higher"),
    ("cpu_s_per_kdoc", "s", "lower"),
    ("setup_s", "s", "lower"),
    ("worker_rss_mb", "MB", "lower"),
    ("output_files", "count", "lower"),
]

PER_LAYER = [
    ("sources.scan_s", "s", "lower"),
    ("sources.rows_in", "count", "higher"),
    ("sources.bytes_in", "bytes", "lower"),
    ("sources.tasks", "count", "higher"),
    ("manifest.hash_s", "s", "lower"),
    ("manifest.resume_s", "s", "lower"),
    ("manifest.output_rows_read", "count", "lower"),
    ("manifest.commit_s", "s", "lower"),
    ("manifest.pending_share", "ratio", "lower"),
    ("convert.kernel_s", "s", "lower"),
    ("convert.python_s", "s", "lower"),
    ("convert.python_us_per_doc", "us", "lower"),
    ("convert.python_boot_s", "s", "lower"),
    ("convert.python_init_s", "s", "lower"),
    ("convert.arrow_sent_bytes", "bytes", "lower"),
    ("convert.arrow_recv_bytes", "bytes", "lower"),
    ("rename.kernel_s", "s", "lower"),
    ("rename.python_s", "s", "lower"),
    ("rename.arrow_sent_bytes", "bytes", "lower"),
    ("codes.assign_s", "s", "lower"),
    ("codes.contested_docs", "count", "lower"),
    ("quality.s", "s", "lower"),
    ("quality.keep_share", "ratio", "higher"),
    ("dedup.exact_s", "s", "lower"),
    ("dedup.exact_keep_share", "ratio", "higher"),
    ("dedup.near_s", "s", "lower"),
    ("dedup.candidate_pairs", "count", "lower"),
    ("dedup.verified_pairs", "count", "higher"),
    ("dedup.verify_yield", "ratio", "higher"),
    ("sampling.mix_shard_s", "s", "lower"),
    ("exec.spark_jobs", "count", "lower"),
    ("exec.tasks", "count", "lower"),
    ("exec.run_s", "s", "lower"),
    ("exec.cpu_s", "s", "lower"),
    ("exec.gc_s", "s", "lower"),
    ("exec.task_skew", "ratio", "lower"),
    ("exec.busy_share", "ratio", "higher"),
    ("exec.jvm_rss_mb", "MB", "lower"),
    ("shuffle.write_bytes", "bytes", "lower"),
    ("shuffle.read_bytes", "bytes", "lower"),
    ("shuffle.spill_bytes", "bytes", "lower"),
    ("sink.files_written", "count", "lower"),
    ("sink.bytes_written", "bytes", "lower"),
    ("sink.s", "s", "lower"),
    ("trace.job_s", "s", "lower"),
    ("trace.overhead_s", "s", "lower"),
]

UNITS = {name: unit for name, unit, _ in END_TO_END + PER_LAYER}
