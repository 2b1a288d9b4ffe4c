"""Tests of the benchmark itself (not of the package):

    python3 -m pytest kgbench -q -p no:cacheprovider

- generators: deterministic per seed, fixed volume on every seed;
- output checks: one dropped quad, dropped pair or wrong label is rejected;
- the xxhash64 replay equals Spark's;
- the runner prints exactly the metric names BENCHMARK.json lists, on a
  shrunk kg_build, untraced and traced.
"""

from __future__ import annotations

import json
import os
import sys
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(HERE), str(ROOT)]

import expect  # noqa: E402
import gen  # noqa: E402

SEEDS = [1, 2, 987654321]


@pytest.fixture
def small(monkeypatch):
    """Shrink every generator size; shapes stay seed-independent."""
    for k, v in {"KG_TURNS": 3000, "KG_DISTINCT_TEXTS": 1200,
                 "KG_TOOL_TURNS": 450, "DOCS": 400,
                 "PLANTED_CLUSTERS": 40}.items():
        monkeypatch.setattr(gen, k, v)


# ---------------------------------------------------------------- generators


def _kg_volume(inp):
    tr = inp["transcripts"]
    lengths = sorted(tr.groupby("conv_id").size().tolist())
    buckets = gen.bucket_of(list(tr["conv_id"]))
    return {
        "rows": len(tr),
        "distinct_texts": tr["text"].nunique(),
        "text_chars": int(tr["text"].str.len().sum()),
        "tool_turns": int((tr["role"] == "tool").sum()),
        "conv_lengths": lengths,
        "bucket_turns": np.bincount(buckets, minlength=gen.N_BUCKETS).tolist(),
        "catalog": len(inp["catalog"]),
        "alias_edges": len(inp["alias_edges"]),
        "excluded": int((inp["alias_edges"]["edge_kind"]
                         == "disambiguation").sum()),
    }


def test_kg_generator_deterministic_and_fixed_volume(small):
    vols = []
    for seed in SEEDS:
        a, b = gen.kg_inputs(seed), gen.kg_inputs(seed)
        for k in a:
            pd.testing.assert_frame_equal(a[k], b[k])
        vols.append(_kg_volume(a))
    v = vols[0]
    assert v["rows"] == gen.KG_TURNS
    assert v["distinct_texts"] == gen.KG_DISTINCT_TEXTS
    assert v["tool_turns"] == gen.KG_TOOL_TURNS
    assert max(v["bucket_turns"]) - min(v["bucket_turns"]) <= max(
        v["conv_lengths"])
    assert v["excluded"] == gen.N_EXCLUDED
    assert all(x == v for x in vols[1:])
    # the seed changes content
    assert not gen.kg_inputs(1)["transcripts"]["text"].equals(
        gen.kg_inputs(2)["transcripts"]["text"])


def test_docs_generator_deterministic_and_fixed_volume(small):
    profiles = []
    for seed in SEEDS:
        a, b = gen.docs_inputs(seed), gen.docs_inputs(seed)
        pd.testing.assert_frame_equal(a, b)
        assert len(a) == gen.DOCS
        assert sorted(a["doc_id"]) == list(range(gen.DOCS))
        words = sorted(zip(a["text"].str.count(" "), a["text"].str.len()))
        # planted clusters: components of pairs sharing any 3-gram
        pairs = expect.exact_pairs(a, 0.3)
        comp = expect._components(a["doc_id"], zip(pairs.id_a, pairs.id_b))
        sizes = sorted(comp.groupby("cluster_id").size().tolist())
        profiles.append((words, [s for s in sizes if s > 1]))
    want = sorted(gen._cluster_sizes(
        np.random.default_rng(gen.SHAPE_SEED + 2)).tolist())
    assert profiles[0][1] == want
    assert all(p == profiles[0] for p in profiles[1:])


# ------------------------------------------------------------ output checks


def _write_quads(df: pd.DataFrame, path: Path) -> None:
    """A quad table as the sink writes it: parquet partitioned by
    pred_label (value irrelevant to the check)."""
    df = df.assign(pred_label=df["predicate"].str.rsplit("/", n=1).str[-1])
    pq.write_to_dataset(pa.Table.from_pandas(df, preserve_index=False),
                        str(path), partition_cols=["pred_label"])


@pytest.fixture
def kg_small(small):
    inp = gen.kg_inputs(3)
    return inp, expect.kg_expected(inp)


def test_build_check_rejects_one_dropped_quad(kg_small, tmp_path):
    _, want = kg_small
    rows = want["build"]
    hashes = expect.row_hashes(rows, expect.IDENTITY)
    _write_quads(rows, tmp_path / "ok")
    assert expect.check_build(str(tmp_path / "ok"), hashes)
    _write_quads(rows.drop(index=rows.index[len(rows) // 2]),
                 tmp_path / "dropped")
    assert not expect.check_build(str(tmp_path / "dropped"), hashes)
    dup = pd.concat([rows, rows.iloc[:1]])
    _write_quads(dup, tmp_path / "dup")
    assert not expect.check_build(str(tmp_path / "dup"), hashes)


def test_resume_check_rejects_dropped_quad_and_missing_bucket(kg_small,
                                                              tmp_path):
    _, want = kg_small
    todo = [4, 5, 6, 7]
    hashes = {b: expect.row_hashes(want["resume"][b], expect.IDENTITY)
              for b in todo}
    for b in todo:
        _write_quads(want["resume"][b], tmp_path / "ok" / f"bucket={b}")
    assert expect.check_resume(str(tmp_path / "ok"), todo, hashes)
    for b in todo:
        df = want["resume"][b]
        if b == 6:
            df = df.iloc[1:]
        _write_quads(df, tmp_path / "dropped" / f"bucket={b}")
    assert not expect.check_resume(str(tmp_path / "dropped"), todo, hashes)
    for b in todo[:-1]:
        _write_quads(want["resume"][b], tmp_path / "missing" / f"bucket={b}")
    assert not expect.check_resume(str(tmp_path / "missing"), todo, hashes)


def test_dedup_checks_reject_wrong_label_and_dropped_pair(small):
    docs = gen.docs_inputs(4)
    want = expect.docs_expected(docs)
    labels, pairs = want["labels"], want["pairs"]
    lh, ph = expect.label_hashes(labels), expect.pair_hashes(pairs)
    assert expect.same_rows(expect.label_hashes(labels.sample(frac=1.0,
                                                              random_state=0)),
                            lh)
    clustered = labels[labels.cluster_id != labels.doc_id].index
    assert len(clustered) and len(pairs)
    for wrong in (labels.loc[clustered[0], "doc_id"],   # split off
                  labels.loc[clustered[0], "cluster_id"] + 1):  # moved
        bad = labels.copy()
        bad.loc[clustered[0], "cluster_id"] = wrong
        assert not expect.same_rows(expect.label_hashes(bad), lh)
    assert not expect.same_rows(expect.pair_hashes(pairs.iloc[1:]), ph)
    shifted = pairs.copy()
    shifted.loc[0, "jaccard"] -= 1e-3
    assert not expect.same_rows(expect.pair_hashes(shifted), ph)


# ------------------------------------------------------------------- Spark


def test_xxhash64_and_buckets_match_spark():
    from pyspark.sql import functions as F
    from quad_processor_util_spark.session import get_spark

    import run

    spark = get_spark("kgbench-test", parallelism=2,
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    strings = [f"cv-{i:08x}-{i:06d}-{i % 997:04d}" for i in range(300)]
    odd = ["x" * n for n in (1, 3, 4, 7, 8, 31, 32, 33, 40, 64, 65)]
    try:
        got = (spark.createDataFrame([(s,) for s in strings + odd],
                                     "s string")
               .select("s", F.xxhash64("s").alias("h"),
                       F.pmod(F.xxhash64("s"), F.lit(8)).alias("b"))
               .toPandas())
    finally:
        run._stop_spark(spark)
    mine = [int(gen.xxhash64([s]).view(np.int64)[0]) for s in got.s]
    assert mine == got.h.tolist()
    assert gen.bucket_of(strings).tolist() == got.b[:len(strings)].tolist()


def test_runner_prints_benchmark_json_names(small, tmp_path, monkeypatch,
                                            capsys):
    import run

    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    monkeypatch.setattr(run, "WORK", tmp_path)
    monkeypatch.setattr(run, "TRACE_SECONDS", 0)
    env = dict(os.environ)
    try:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            assert run.main(["--workload", "kg_build", "--seed", "5",
                             "--seconds", "0.1", "--trace", str(trace)]) == 0
            lines = capsys.readouterr().out.strip().splitlines()
            result = json.loads(lines[-1])
            assert set(result) == {"correct", "attempted", "failed",
                                   "metrics"}
            assert result["correct"] and result["failed"] == 0
            want = {m["name"]: m["unit"] for m in bench[key]}
            assert {k: v["unit"] for k, v in result["metrics"].items()} \
                == want
    finally:
        os.environ.clear()
        os.environ.update(env)
