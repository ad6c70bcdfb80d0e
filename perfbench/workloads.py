"""The benchmark's workloads: inputs, one full run, and its checks.

Each workload writes its seeded inputs as parquet, materializes them
in Spark, computes its oracle once, and then runs its pipeline as
many times as the measuring window allows. A run calls only the
engine's public functions, with their defaults, and materializes each
layer's output with one fingerprint aggregate inside that layer's
span. `check` compares a run's fingerprints with the oracle's and
returns the problems it found (empty = correct).
"""

from __future__ import annotations

import gzip
import hashlib
import os
import shutil

from pyspark.sql import SparkSession

import checks
import inputs
from overmatch_spark import demo
from overmatch_spark.operators import knn as knn_mod
from overmatch_spark.operators.checkpoint import ConflationJob
from overmatch_spark.operators.conflate import conflate
from overmatch_spark.operators.dedup import minhash_lsh_pairs
from overmatch_spark.operators.enrich import group_matches
from overmatch_spark.operators.pmtiles import PMTilesReader, matches_to_pmtiles, mvt_decode

KNN_SAMPLE = 64  # unmatched probes checked against the numpy spec per invocation


def _du(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
    )


def _committed(job: ConflationJob) -> int:
    """Matches the job's lineage says it has committed."""
    return sum(rec["n_matches"] for rec in job.lineage())


class _Layers:
    """Match layers derived by `demo` from seeded keys."""

    def __init__(self, n: int):
        self.n = n
        self.items = n

    def describe(self) -> dict:
        return {"features": self.n, "classes": f"0-{inputs.NEAR_CLASSES - 1}"}

    def generate(self, work: str, seed: int) -> None:
        self.keys_path = os.path.join(work, "keys.parquet")
        inputs.write_keys(self.keys_path, inputs.match_keys(self.n, seed))

    def materialize(self, spark: SparkSession, cpus: int) -> int:
        k = spark.read.parquet(self.keys_path).repartition(2 * cpus)
        self.a = demo.spark_layer_a(spark, None, None, "k", df=k).persist()
        self.b = demo.spark_layer_b(spark, None, None, "k", df=k).persist()
        return self.a.count() + self.b.count()

    def _conflate_oracle(self, spark: SparkSession) -> dict:
        o = checks.conflate_oracle(self.keys_path)
        schema = checks.rounded_matches(conflate(self.a, self.b)).schema
        self.ref = {
            "conflate": checks.pandas_fingerprint(spark, o["matches"], schema),
            "n_matches": len(o["matches"]),
        }
        return o


class MatchPipeline(_Layers):
    """conflate -> enrich.group_matches -> knn_fallback."""

    def oracle(self, spark: SparkSession, seed: int) -> None:
        o = self._conflate_oracle(spark)
        m = conflate(self.a, self.b)
        self.ref["group"] = checks.pandas_fingerprint(
            spark, checks.grouped_oracle(o["matches"]), group_matches(m).schema
        )
        unmatched = checks.unmatched_probes(o["a"], o["matches"])
        self.sample = checks.knn_sample(unmatched, KNN_SAMPLE, seed)
        self.ref["knn_n"] = len(unmatched)
        self.ref["knn_sample"] = checks.pandas_fingerprint(
            spark, checks.knn_spec_sample(o, self.sample), checks.KNN_SCHEMA
        )[:3]
        self.ref["knn_all"] = None  # set by the first correct run

    def run(self, spark: SparkSession, span, run_dir: str) -> dict:
        out = {}
        with span("conflate") as s:
            m = conflate(self.a, self.b).persist()
            out["conflate"] = checks.fingerprint(checks.rounded_matches(m))
            s["rows_out"] = out["conflate"][0]
        with span("enrich.group") as s:
            out["group"] = checks.fingerprint(group_matches(m))
            s["rows_out"] = out["group"][0]
        caches: list = []
        with span("knn") as s:
            k = knn_mod.knn_fallback(self.a, self.b, m, caches=caches)
            out["knn"] = checks.fingerprint(k, "osm_id", self.sample)
            s["rows_out"] = out["knn"][0]
        knn_mod.release_caches(caches)
        m.unpersist()
        return out

    def check(self, out: dict) -> list[str]:
        bad = []
        if out["conflate"] != self.ref["conflate"]:
            bad.append(f"conflate {out['conflate']} != oracle {self.ref['conflate']}")
        if out["group"] != self.ref["group"]:
            bad.append(f"enrich.group {out['group']} != oracle {self.ref['group']}")
        knn = out["knn"]
        if knn[0] != self.ref["knn_n"]:
            bad.append(f"knn rows {knn[0]} != unmatched probes {self.ref['knn_n']}")
        if knn[3:] != self.ref["knn_sample"]:
            bad.append(f"knn sample {knn[3:]} != spec {self.ref['knn_sample']}")
        if self.ref["knn_all"] is None:
            if not bad:
                self.ref["knn_all"] = knn[:3]
        elif knn[:3] != self.ref["knn_all"]:
            bad.append(f"knn {knn[:3]} != first correct run {self.ref['knn_all']}")
        return bad


class TilePublish(_Layers):
    """Checkpointed conflation killed half-way and resumed from
    lineage, then the resumed result published as PMTiles."""

    def __init__(self, n: int, n_buckets: int):
        super().__init__(n)
        self.n_buckets = n_buckets

    def describe(self) -> dict:
        return {**super().describe(), "buckets": self.n_buckets}

    def oracle(self, spark: SparkSession, seed: int) -> None:
        self._conflate_oracle(spark)
        self.ref["archive_sha256"] = None  # set by the first correct run

    def run(self, spark: SparkSession, span, run_dir: str) -> dict:
        job_dir = os.path.join(run_dir, "job")
        archive = os.path.join(run_dir, "matches.pmtiles")
        with span("checkpoint.prepare"):
            ConflationJob(spark, job_dir, n_buckets=self.n_buckets).prepare(self.a, self.b)
        with span("checkpoint.run") as s:
            job = ConflationJob(spark, job_dir, n_buckets=self.n_buckets)
            job.run(max_buckets=self.n_buckets // 2)
        s["rows_out"] = first_half = _committed(job)
        with span("checkpoint.resume") as s:
            job = ConflationJob(spark, job_dir, n_buckets=self.n_buckets)
            job.run()
        s["rows_out"] = _committed(job) - first_half
        s["extra"] = {"checkpoint.bytes_written": _du(job_dir)}
        with span("pmtiles") as s:
            info = matches_to_pmtiles(job.result(), archive)
        s["extra"] = {"pmtiles.tiles": info["tiles"], "pmtiles.archive_bytes": info["bytes"]}
        return {"job_dir": job_dir, "archive": archive, "info": info}

    def inspect(self, spark: SparkSession, out: dict) -> None:
        """Untimed: fingerprint the resumed result and read the
        archive back."""
        job = ConflationJob(spark, out["job_dir"], n_buckets=self.n_buckets)
        out["result"] = checks.fingerprint(checks.rounded_matches(job.result()))
        out["lineage_buckets"] = len(job.lineage())
        with open(out["archive"], "rb") as f:
            out["archive_sha256"] = hashlib.sha256(f.read()).hexdigest()
        if self.ref["archive_sha256"] is None:
            out["read_back"] = read_back(out["archive"])
        shutil.rmtree(out["job_dir"])

    def check(self, out: dict) -> list[str]:
        bad = []
        if out["result"] != self.ref["conflate"]:
            bad.append(f"resumed result {out['result']} != oracle {self.ref['conflate']}")
        if out["lineage_buckets"] != self.n_buckets:
            bad.append(f"lineage has {out['lineage_buckets']} of {self.n_buckets} buckets")
        info = out["info"]
        if "read_back" in out:
            rb = out["read_back"]
            want_features = self.ref["n_matches"] * rb["zooms"]
            if rb["tiles"] != info["tiles"] or rb["features"] != want_features:
                bad.append(
                    f"archive read back {rb} vs writer {info['tiles']} tiles, "
                    f"{want_features} features expected"
                )
        if self.ref["archive_sha256"] is None:
            if not bad:
                self.ref["archive_sha256"] = out["archive_sha256"]
        elif out["archive_sha256"] != self.ref["archive_sha256"]:
            bad.append("archive bytes differ from the first correct run")
        return bad


def read_back(path: str) -> dict:
    """Tile and feature counts of a PMTiles archive, read back with
    PMTilesReader and decoded tile by tile."""
    r = PMTilesReader(path)
    tiles = features = 0
    for _, off, ln, _ in r.iter_tile_entries():
        blob = gzip.decompress(r._raw[r._data_off + off : r._data_off + off + ln])
        features += sum(len(layer["features"]) for layer in mvt_decode(blob).values())
        tiles += 1
    return {
        "tiles": tiles,
        "features": features,
        "zooms": len(range(r.min_zoom, r.max_zoom + 1, 2)),
    }


class NearDup:
    """minhash_lsh_pairs over a corpus with a seeded near-dup share."""

    dup_share = 0.1

    def __init__(self, n: int):
        self.n = n
        self.items = n

    def describe(self) -> dict:
        return {"documents": self.n, "near_dup_share": self.dup_share}

    def generate(self, work: str, seed: int) -> None:
        self.path = os.path.join(work, "documents.parquet")
        inputs.write_corpus(self.path, *inputs.corpus(self.n, self.dup_share, seed))

    def materialize(self, spark: SparkSession, cpus: int) -> int:
        self.docs = spark.read.parquet(self.path).persist()
        return self.docs.count()

    def oracle(self, spark: SparkSession, seed: int) -> None:
        o = checks.minhash_oracle(self.path)
        schema = minhash_lsh_pairs(self.docs, "text", "doc_id").schema
        self.ref = {
            "pairs": checks.pandas_fingerprint(spark, o["pairs"], schema),
            "candidates": o["candidates"],
        }

    def run(self, spark: SparkSession, span, run_dir: str) -> dict:
        with span("dedup.minhash") as s:
            out = {"pairs": checks.fingerprint(minhash_lsh_pairs(self.docs, "text", "doc_id"))}
        s["rows_out"] = out["pairs"][0]
        cand = self.ref["candidates"]
        s["extra"] = {
            "dedup.minhash.candidate_pairs": cand,
            "dedup.minhash.verify_pass_ratio": s["rows_out"] / cand if cand else 0.0,
        }
        return out

    def check(self, out: dict) -> list[str]:
        if out["pairs"] != self.ref["pairs"]:
            return [f"minhash pairs {out['pairs']} != oracle {self.ref['pairs']}"]
        return []


class Composite:
    """Several workloads' pipelines run back to back as one run; the
    items are the sum of the parts' items."""

    def __init__(self, *parts):
        self.parts = parts
        self.items = sum(p.items for p in parts)

    def describe(self) -> dict:
        return {type(p).__name__: p.describe() for p in self.parts}

    def generate(self, work: str, seed: int) -> None:
        for p in self.parts:
            p.generate(work, seed)

    def materialize(self, spark: SparkSession, cpus: int) -> int:
        return sum(p.materialize(spark, cpus) for p in self.parts)

    def oracle(self, spark: SparkSession, seed: int) -> None:
        for p in self.parts:
            p.oracle(spark, seed)

    def run(self, spark: SparkSession, span, run_dir: str) -> list:
        return [p.run(spark, span, run_dir) for p in self.parts]

    def inspect(self, spark: SparkSession, outs: list) -> None:
        for p, out in zip(self.parts, outs):
            if hasattr(p, "inspect"):
                p.inspect(spark, out)

    def check(self, outs: list) -> list[str]:
        return [bad for p, out in zip(self.parts, outs) for bad in p.check(out)]
