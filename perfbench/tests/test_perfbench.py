"""The benchmark's own tests: seeded inputs, names, output checks, CLI.

Run with ``python3 -m pytest perfbench/tests -q`` (about four minutes:
every workload runs once at a tiny size on a local Spark session).
"""

import json
import os
import re
import shutil
import subprocess
import sys

import pyarrow.parquet as pq
import pytest

from perfbench import inputs, metrics, reference, run
from perfbench.trace import parse_metric_string
from perfbench.workloads import WORKLOADS, ConvertFresh

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
NAME = re.compile(r"^[A-Za-z0-9_.-]+$")
TINY = {"convert_fresh": 300, "convert_resume": 400, "rename": 300, "curate_funnel": 400}


def _tables(d):
    return [pq.read_table(os.path.join(d, f)) for f in sorted(os.listdir(d))]


@pytest.mark.parametrize(
    "write",
    [
        lambda d, seed: inputs.write_span_corpus(d, 120, seed, procs=1),
        lambda d, seed: inputs.write_resume_corpus(d + "_base", d, 120, seed, procs=1),
        lambda d, seed: inputs.write_web_corpus(d, 120, seed, procs=1),
    ],
    ids=["span", "resume", "web"],
)
def test_same_seed_same_inputs_other_seed_other_inputs(tmp_path, write):
    a, b, c = (str(tmp_path / n) for n in "abc")
    write(a, 5)
    write(b, 5)
    write(c, 6)
    ta, tb, tc = _tables(a), _tables(b), _tables(c)
    assert len(ta) > 1  # many files, not one
    assert all(x.equals(y) for x, y in zip(ta, tb))
    assert not all(x.equals(y) for x, y in zip(ta, tc))


def test_pool_and_serial_generation_agree(tmp_path):
    inputs.write_span_corpus(str(tmp_path / "serial"), 100, 9, procs=1)
    inputs.write_span_corpus(str(tmp_path / "pool"), 100, 9, procs=2)
    for x, y in zip(_tables(str(tmp_path / "serial")), _tables(str(tmp_path / "pool"))):
        assert x.equals(y)


def test_names_match_the_contract_and_the_code():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = [w["name"] for w in bench["workloads"]]
    names += [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    assert all(NAME.match(n) for n in names)
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in WORKLOADS)
    assert {w["name"] for w in bench["workloads"]} <= set(WORKLOADS)
    for key, listed in (("end_to_end", metrics.END_TO_END), ("per_layer", metrics.PER_LAYER)):
        assert [(m["name"], m["unit"], m["better"]) for m in bench[key]] == listed
    e2e = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    assert e2e["setup_s"] == max(e2e.values()) <= 0.25


def test_parse_metric_string():
    multi = "total (min, med, max (stageId: taskId))\n10.2 s (2.3 s, 2.5 s, 3.0 s (stage 2.0: task 4))"
    assert parse_metric_string(multi, "timing") == pytest.approx(10200)
    assert parse_metric_string("27 ms", "timing") == pytest.approx(27)
    assert parse_metric_string("38 ms", "nsTiming") == pytest.approx(38e6)
    assert parse_metric_string("2.3 MiB", "size") == pytest.approx(2.3 * 2**20)
    assert parse_metric_string("2,000", "sum") == 2000


def test_input_hash_framing_is_injective():
    a = [{"kind": "text", "text": "a\x1eb", "media_ref": "c"}]
    b = [{"kind": "text", "text": "a", "media_ref": "b\x1ec"}]
    assert reference.input_hash(a) != reference.input_hash(b)


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_tiny_run_has_zero_fail_share(session, tmp_path, name):
    spark, cpus = session
    wl = WORKLOADS[name](str(tmp_path), 21, cpus, TINY[name])
    wl.generate(procs=1)
    wl.prepare(spark)
    loop, m = run.measure(wl, spark, 0.0, [1.0])
    assert loop.attempted >= wl.n_docs and loop.failed == 0
    assert set(m) == {n for n, _, _ in metrics.END_TO_END}
    assert m["output_files"] > 0 and m["job_s"] > 0


def test_traced_run_reports_every_layer_metric(session, tmp_path):
    spark, cpus = session
    wl = ConvertFresh(str(tmp_path), 22, cpus, 300)
    wl.generate(procs=1)
    wl.prepare(spark)
    trace = str(tmp_path / "trace.json")
    loop, m = run.measure_traced(wl, spark, 0.0, cpus, trace)
    assert loop.failed == 0
    assert set(m) == {n for n, _, _ in metrics.PER_LAYER}
    assert m["convert.python_s"] > 0 and m["exec.spark_jobs"] > 0
    assert m["sources.rows_in"] == 300
    with open(trace) as f:
        spans = [s["name"] for s in json.load(f)["spans"]]
    assert spans[:6] == [
        "job", "sources", "manifest.hash", "manifest.resume", "convert", "manifest.commit"
    ]


def test_altered_span_text_is_a_failure(session, tmp_path):
    spark, cpus = session
    wl = ConvertFresh(str(tmp_path), 23, cpus, 300)
    wl.generate(procs=1)
    wl.prepare(spark)
    wl.reset(spark)
    assert wl.check(wl.run_job()) == 0

    out, _ = wl._target()
    victim = sorted(wl.expected)[0]
    for name in sorted(os.listdir(out)):
        if not name.endswith(".parquet"):
            continue
        path = os.path.join(out, name)
        t = pq.read_table(path)
        rows = t.to_pylist()
        hit = [r for r in rows if r["doc_id"] == victim]
        if hit:
            span = next(s for s in hit[0]["spans"] if s["text"])
            span["text"] += " altered"
            pq.write_table(type(t).from_pylist(rows, schema=t.schema), path)
            break
    else:
        pytest.fail("sampled doc not found in the output")
    assert wl.check(None) > 0


def test_cli_fails_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        os.path.join(ROOT, "perfbench"),
        tmp_path / "perfbench",
        ignore=shutil.ignore_patterns("__pycache__", "tests"),
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    res = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "convert_fresh",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=180,
    )
    assert res.returncode != 0
    assert res.stdout == ""
