"""The three workloads: cached inputs and expectations, set-up, one job,
and the output check.

A job is what one closed-loop client asks of the package, start to end:
read the inputs, run the public entry point, produce the output. Every job
writes (or collects) its own output so that all of them can be checked
after the clock stops.
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
import shutil
from pathlib import Path

import numpy as np
import pandas as pd

import expect
import gen

HERE = Path(__file__).resolve().parent
RESUME_DONE = [0, 1, 2, 3]  # buckets recorded done: a crash after bucket 3
RESUME_TODO = [b for b in range(gen.N_BUCKETS) if b not in RESUME_DONE]


def _code_tag() -> str:
    h = hashlib.md5(usedforsecurity=False)
    for f in ("gen.py", "expect.py"):
        h.update((HERE / f).read_bytes())
    return h.hexdigest()[:10]


def _cached(cache: Path, family: str, seed: int, build) -> Path:
    """Directory holding the inputs and expectations for (family, seed),
    built once; a change to gen.py or expect.py starts a new entry."""
    d = cache / f"{family}-{seed}-{_code_tag()}"
    if (d / "meta.json").exists():
        return d
    tmp = d.with_name(f"{d.name}.tmp{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    meta = build(seed, tmp)
    (tmp / "meta.json").write_text(json.dumps(meta))
    shutil.rmtree(d, ignore_errors=True)
    os.replace(tmp, d)
    return d


def _build_kg(seed: int, d: Path) -> dict:
    inp = gen.kg_inputs(seed)
    for name, df in inp.items():
        df.to_parquet(d / f"{name}.parquet", index=False)
    want = expect.kg_expected(inp)
    np.save(d / "build.npy", expect.row_hashes(want["build"], expect.IDENTITY))
    for b, df in want["resume"].items():
        np.save(d / f"resume_{b}.npy", expect.row_hashes(df, expect.IDENTITY))
    conv = inp["transcripts"]["conv_id"]
    buckets = pd.Series(gen.bucket_of(list(conv.unique())),
                        index=conv.unique())
    per_bucket = np.bincount(conv.map(buckets).to_numpy(),
                             minlength=gen.N_BUCKETS)
    return {"turns": len(inp["transcripts"]),
            "bucket_turns": [int(x) for x in per_bucket]}


def _build_docs(seed: int, d: Path) -> dict:
    docs = gen.docs_inputs(seed)
    docs.to_parquet(d / "docs.parquet", index=False)
    want = expect.docs_expected(docs)
    np.save(d / "pairs.npy", expect.pair_hashes(want["pairs"]))
    np.save(d / "labels.npy", expect.label_hashes(want["labels"]))
    return {"docs": len(docs), "pairs": len(want["pairs"]),
            "clusters": int(want["labels"]["cluster_id"].nunique())}


@contextlib.contextmanager
def noop_sink():
    """Every parquet write inside the block goes to Spark's noop sink: the
    frame's plan still executes in full (the same job, observe counters and
    ledger writes); the files, and the sort by partition column that a
    partitioned file write adds, are left out. The target directory is
    created, since the package writes a commit sidecar next to the data."""
    from pyspark.sql.readwriter import DataFrameWriter

    real = DataFrameWriter.parquet

    def parquet(self, path, *a, **kw):
        os.makedirs(path, exist_ok=True)
        self._df.write.format("noop").mode("overwrite").save()

    DataFrameWriter.parquet = parquet
    try:
        yield
    finally:
        DataFrameWriter.parquet = real


def _dir_bytes(path: Path) -> int:
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file())


class Workload:
    """name, family (shared input cache), rows per job, and hooks."""

    family = ""
    has_sink = True
    warmup = 0  # untimed jobs between set-up and the timed jobs

    def __init__(self, spark, inputs: Path, scratch: Path, tracer=None):
        self.spark, self.inp, self.scratch = spark, inputs, scratch
        self.tracer = tracer
        self.meta = json.loads((inputs / "meta.json").read_text())

    def probe_counts(self) -> None:
        """Count the rows of frames captured by the traced job's spans."""
        t = self.tracer
        for name, frames in t.captured.items():
            t.counts[name] = t.counts.get(name, 0) + sum(
                f.count() for f in frames)
        t.captured.clear()


class KgBuild(Workload):
    name, family = "kg_build", "kg"
    # the first job after set-up sits where the warm-up curve is steepest;
    # job times keep falling for 6-8 jobs, more than one run's budget
    warmup = 1

    def setup(self) -> None:
        self.catalog = pd.read_parquet(self.inp / "catalog.parquet")
        self.want = np.load(self.inp / "build.npy")

    @property
    def rows(self) -> int:
        return self.meta["turns"]

    def job(self, i: int, sink: bool = True) -> dict:
        from quad_processor_util_spark.plans.pipeline import run_pipeline

        spark = self.spark
        out = self.scratch / f"job{i}"
        reg: list = []
        with contextlib.nullcontext() if sink else noop_sink():
            run_pipeline(
                spark,
                spark.read.parquet(str(self.inp / "transcripts.parquet")),
                self.catalog,
                spark.read.parquet(str(self.inp / "alias_edges.parquet")),
                out_path=str(out), fuzzy_link=True, cache_registry=reg)
        for df in reg:
            df.unpersist()
        if not sink:
            shutil.rmtree(out)
            return {}
        return {"out": out}

    def check(self, res: dict) -> tuple[bool, int]:
        out = res["out"]
        nbytes = _dir_bytes(out)
        ok = expect.check_build(str(out), self.want)
        shutil.rmtree(out, ignore_errors=True)
        return ok, nbytes


class KgResume(Workload):
    name, family = "kg_resume", "kg"
    # job 1 after set-up runs 10-20% slower than the flat part of the
    # curve, which starts at job 2
    warmup = 1

    def setup(self) -> None:
        from quad_processor_util_spark.datagen import build_gazetteer
        from quad_processor_util_spark.plans.checkpoint import (
            write_bucketed_transcripts,
        )

        catalog = pd.read_parquet(self.inp / "catalog.parquet")
        self.gaz = build_gazetteer(catalog).surface_to_iri
        self.layout = self.scratch / "layout"
        write_bucketed_transcripts(
            self.spark.read.parquet(str(self.inp / "transcripts.parquet")),
            str(self.layout), n_buckets=gen.N_BUCKETS)
        # the ledger a run leaves when it dies after committing RESUME_DONE
        self.ledger = "".join(
            json.dumps({"bucket": b, "committed_at": "2026-01-01T00:00:00Z",
                        "conv_col": "conv_id", "n_buckets": gen.N_BUCKETS,
                        "output": f"bucket={b}",
                        "quads_out": 0,
                        "turns_in": self.meta["bucket_turns"][b]},
                       sort_keys=True) + "\n"
            for b in RESUME_DONE)
        self.want = {b: np.load(self.inp / f"resume_{b}.npy")
                     for b in RESUME_TODO}

    @property
    def rows(self) -> int:
        return sum(self.meta["bucket_turns"][b] for b in RESUME_TODO)

    def _process(self, df):
        # both read from plans.pipeline, where the traced run wraps them
        from quad_processor_util_spark.plans.pipeline import (
            dedup_quads_df,
            extract_quads,
        )

        if self.tracer is not None and self.tracer.active:
            self.tracer.bucket += 1
            self.tracer.describe(
                f"{self.tracer.label}|checkpoint.bucket{self.tracer.bucket}")
        return dedup_quads_df(extract_quads(df, self.gaz,
                                            assume_bucketed=True))

    def job(self, i: int, sink: bool = True) -> dict:
        from quad_processor_util_spark.plans.checkpoint import run_checkpointed

        spark = self.spark
        d = self.scratch / f"job{i}"
        d.mkdir()
        src = spark.read.parquet(str(self.layout))
        ledger = d / "ledger.jsonl"
        ledger.write_text(self.ledger)
        if self.tracer is not None and self.tracer.active:
            self.tracer.bucket = 0
            self.tracer.describe(f"{self.tracer.label}|checkpoint.probe")
        with contextlib.nullcontext() if sink else noop_sink():
            state = run_checkpointed(src, self._process, str(d / "out"),
                                     str(ledger), n_buckets=gen.N_BUCKETS,
                                     bucket_col="bucket")
        if not sink:
            shutil.rmtree(d)
            return {}
        return {"dir": d, "state": state}

    def check(self, res: dict) -> tuple[bool, int]:
        d, state = res["dir"], res["state"]
        out = d / "out"
        nbytes = _dir_bytes(out)
        counted = all(
            state[b]["turns_in"] == self.meta["bucket_turns"][b]
            for b in RESUME_TODO)
        ok = (counted and sorted(state) == list(range(gen.N_BUCKETS))
              and expect.check_resume(str(out), RESUME_TODO, self.want))
        shutil.rmtree(d, ignore_errors=True)
        return ok, nbytes


class DocDedup(Workload):
    name, family = "doc_dedup", "docs"
    has_sink = False

    def setup(self) -> None:
        self.want_pairs = np.load(self.inp / "pairs.npy")
        self.want_labels = np.load(self.inp / "labels.npy")

    @property
    def rows(self) -> int:
        return self.meta["docs"]

    def job(self, i: int, sink: bool = True) -> dict:
        from quad_processor_util_spark.operators.dedup import (
            dedup_clusters,
            ngram_jaccard_pairs,
        )

        t = self.tracer if self.tracer is not None and self.tracer.active \
            else None
        docs = self.spark.read.parquet(str(self.inp / "docs.parquet"))
        res = {}
        for key, fn in (("clusters", dedup_clusters),
                        ("jaccard", ngram_jaccard_pairs)):
            if t is None:
                res[key] = fn(docs).toArrow()
                continue
            with t.span(f"dedup.{key}"):
                df = fn(docs)
            with t.span(f"dedup.{key}.action"):
                res[key] = df.toArrow()
        return res

    def check(self, res: dict) -> tuple[bool, int]:
        labels = res["clusters"].to_pandas()
        pairs = res["jaccard"].to_pandas()
        ok = (expect.same_rows(expect.label_hashes(labels), self.want_labels)
              and expect.same_rows(expect.pair_hashes(pairs), self.want_pairs))
        return ok, res["clusters"].nbytes + res["jaccard"].nbytes


WORKLOADS = {w.name: w for w in (KgBuild, KgResume, DocDedup)}
BUILDERS = {"kg": _build_kg, "docs": _build_docs}


def inputs_for(cache: Path, name: str, seed: int) -> Path:
    w = WORKLOADS[name]
    return _cached(cache, w.family, seed, BUILDERS[w.family])
