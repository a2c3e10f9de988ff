"""The benchmark's own tests: generator determinism per seed, metric-name
format, the shape of BENCHMARK.json and of the result line, and the
refusal to run without the program. None of them starts Spark.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil
import subprocess
import sys

import pandas as pd
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import check, gen, trace  # noqa: E402
from perfbench.run import E2E_UNITS, LAYER_UNITS, Bench, result_line  # noqa: E402
from perfbench.workloads import FAMILIES, WORKLOADS, family  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
SMALL = gen.Spec(sf=0.001, docs=60, near_dup_share=0.25, vectors=40, clusters=4)


@pytest.fixture(scope="module")
def bench_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _digests(sf_dir):
    return {
        f: hashlib.sha256(open(os.path.join(sf_dir, f), "rb").read()).hexdigest()
        for f in sorted(os.listdir(sf_dir))
    }


def test_generator_is_deterministic_per_seed(tmp_path):
    a, ma = gen.generate(str(tmp_path / "a"), 7, SMALL)
    b, mb = gen.generate(str(tmp_path / "b"), 7, SMALL)
    c, _ = gen.generate(str(tmp_path / "c"), 8, SMALL)
    assert _digests(a) == _digests(b)
    assert ma["tables"] == mb["tables"]
    assert _digests(a)["lineitem.parquet"] != _digests(c)["lineitem.parquet"]


def test_generator_writes_fresh_paths_and_records_sizes(tmp_path):
    d0, m = gen.generate(str(tmp_path), 3, SMALL, rep=0)
    d1, _ = gen.generate(str(tmp_path), 3, SMALL, rep=1)
    assert d0 != d1
    with pytest.raises(FileExistsError):
        gen.generate(str(tmp_path), 3, SMALL, rep=0)
    assert sorted(m["tables"]) == sorted(check.TABLES)
    for t in check.TABLES:
        assert os.path.isfile(os.path.join(d0, f"{t}.parquet"))
        entry = m["tables"][t]
        assert entry["rows"] > 0 and entry["bytes"] > 0 and entry["row_groups"] >= 1
    assert m["tables"]["documents"]["near_dups"] == 15
    assert m["tables"]["embeddings"]["clusters"] == 4


def test_generated_corpus_has_the_stated_properties(tmp_path):
    import numpy as np
    import pyarrow.parquet as pq

    d, _ = gen.generate(str(tmp_path), 5, SMALL)
    emb = pq.read_table(f"{d}/embeddings.parquet").to_pandas()
    x = np.stack(emb["embedding"].to_numpy())
    assert x.shape == (40, 64)
    assert np.allclose(np.linalg.norm(x, axis=1), 1.0, atol=1e-5)
    assert emb["label"].nunique() <= 4
    docs = pq.read_table(f"{d}/documents.parquet").to_pandas()
    assert (docs["text"].str.len() == docs["n_chars"]).all()


def test_benchmark_json_shape(bench_json):
    assert set(bench_json) == {
        "command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"
    }
    assert bench_json["command"][:2] == ["python3", "perfbench/run.py"]
    assert bench_json["paths"] == ["perfbench"]
    assert isinstance(bench_json["run_seconds"], int) and 1 <= bench_json["run_seconds"] <= 60
    assert 2 <= len(bench_json["workloads"]) <= 8
    for w in bench_json["workloads"]:
        assert set(w) == {"name", "why"}
        assert w["name"] in WORKLOADS and w["why"] == WORKLOADS[w["name"]].why
        assert "\n" not in w["why"] and len(w["why"]) <= 200
    assert [w["name"] for w in bench_json["workloads"]] == list(WORKLOADS)
    for m in bench_json["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
    for m in bench_json["per_layer"]:
        assert set(m) == {"name", "unit", "better"}


def test_metric_names_and_units(bench_json):
    e2e = {m["name"]: m for m in bench_json["end_to_end"]}
    layer = {m["name"]: m for m in bench_json["per_layer"]}
    names = list(e2e) + list(layer) + [w["name"] for w in bench_json["workloads"]]
    assert len(names) == len(set(names))
    for m in [*e2e.values(), *layer.values()]:
        assert NAME.match(m["name"]), m["name"]
        assert UNIT.match(m["unit"]), m["unit"]
        assert m["better"] in ("lower", "higher")
    assert {k: m["unit"] for k, m in e2e.items()} == E2E_UNITS
    assert {k: m["unit"] for k, m in layer.items()} == LAYER_UNITS
    setup = e2e["setup_s"]
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in e2e.values())
    for f in FAMILIES:
        assert f"operators.{f}_s" in layer


def test_result_line_shape():
    line = result_line(12, 0, {"batch_s": 1.25}, E2E_UNITS)
    out = json.loads(line)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["attempted"] == 12 and out["failed"] == 0
    assert out["metrics"] == {"batch_s": {"value": 1.25, "unit": "s"}}
    assert json.loads(result_line(3, 1, {}, E2E_UNITS))["correct"] is False


def test_job_latency_percentiles_are_taken_per_pass():
    warm = [
        {"wall_s": 4.0, "jobs": {"a": 1.0, "b": 2.0, "c": 3.0}},
        {"wall_s": 6.0, "jobs": {"a": 2.0, "b": 3.0, "c": 4.0}},
        {"wall_s": 5.0, "jobs": {"a": 1.5, "b": 2.5, "c": 9.0}},
    ]
    bench = object.__new__(Bench)
    e2e, labels = bench.end_to_end({"setup_s": 1.0}, {"wall_s": 9.0}, warm, 100.0)
    assert e2e["batch_s"] == 5.0 and e2e["cold_s"] == 9.0
    assert e2e["job_p50_s"] == 2.5  # per-pass medians 2, 3, 2.5
    assert e2e["job_tail_s"] == pytest.approx(3.8)  # per-pass p90s 2.8, 3.8, 7.7
    assert labels == {"job_samples": 9, "job_tail_pct": 90}


def test_every_job_exists_and_has_a_family():
    from perfbench import pipelines

    for w in WORKLOADS.values():
        assert w.jobs and w.warm_passes >= 1 and w.warmup_passes >= 0
        for q in w.queries:
            assert family(q) in FAMILIES
        for p in w.pipelines:
            assert pipelines.FAMILY.get(p) in (None, *FAMILIES)
    assert family("sim_cosine_topk") == "similarity"
    assert family("dedup_keyed") == "relational"
    assert family("ts_ewma") == "timeseries"


def test_query_check_uses_the_repo_oracle_rule():
    from tools import check_oracle

    assert check.frame_to_rows is check_oracle.frame_to_rows
    assert check.TABLES is check_oracle.TABLES


def test_query_check_compares_with_the_oracle():
    import duckdb

    con = duckdb.connect()
    pdf = pd.DataFrame({"k": [2, 1], "v": [0.5, 0.25]})
    sql = "select * from (values (1, 0.25), (2, 0.5)) t(k, v)"
    want = check.oracle_rows(con, sql)
    assert check.check_query("q", pdf, want) is None
    assert "rows differ" in check.check_query("q", pdf.assign(v=[0.5, 0.3]), want)
    assert "columns" in check.check_query("q", pdf.rename(columns={"v": "w"}), want)
    assert "rows !=" in check.check_query("q", pdf.iloc[:1], want)
    assert check.check_query("q", pdf) is None
    assert "no rows" in check.check_query("q", pdf.iloc[:0]) 


def test_tracer_nests_spans_and_is_free_when_disabled():
    off = trace.Tracer()
    with off.span("x", "job") as rec:
        assert rec is None
    assert off.spans == []
    on = trace.Tracer(enabled=True)
    with on.span("job1", "job", job="j"):
        with on.span("construct", "construct", job="j"):
            pass
    inner, outer = on.spans
    assert inner["parent"] == outer["id"] and outer["parent"] is None
    assert inner["wall_s"] <= outer["wall_s"]


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    cmd = [sys.executable, "perfbench/run.py", "--workload", "sql_analytics",
           "--seed", "1", "--seconds", "1", "--trace", "0"]
    proc = subprocess.run(cmd, cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert proc.returncode != 0
    assert proc.stdout == ""
