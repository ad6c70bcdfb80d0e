"""Output checks: oracles computed once per invocation, and the
fingerprint every run's output is compared against.

Oracles are independent of the engine under test:
  - conflate: DuckDB over the closed-form `demo` SQL (the same
    `sql_layers_cte()` + `SQL_MATCHES` the driver's oracle uses),
    evaluated on a `customer(c_custkey)` view of the generated keys.
  - enrich.group: that oracle grouped in pandas.
  - knn: `spec.knn_spec` (numpy brute force) on a seeded sample of
    the unmatched probes, plus the exact probe count.
  - minhash: the DuckDB twin of `minhash_lsh_pairs`, built from the
    same `sql_*` helpers the driver's `minhash_pairs` oracle uses.

A fingerprint is (rows, xor of row hashes, sum of low 32 hash bits),
computed by one Spark aggregate: it is order-insensitive and moves
when any value of any row changes.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from overmatch_spark import demo
from overmatch_spark.operators import dedup as dd

MATCH_COLS = ["osm_id", "overture_id", "lon", "lat", "distance_m", "similarity"]
# knn_fallback's documented output; building the operator just to read
# its schema would plan its whole DAG
KNN_SCHEMA = "osm_id string, overture_id string, distance_m double"


def fingerprint(df: DataFrame, key: str | None = None, sample=None) -> tuple:
    """(n, xor, sum) over all rows; with `sample`, the same three over
    the rows whose `key` is in it are appended (one Spark job)."""
    h = F.xxhash64(*[F.col(c) for c in df.columns])
    lo = h.bitwiseAND(F.lit(0xFFFFFFFF))
    aggs = [F.count(F.lit(1)), F.bit_xor(h), F.sum(lo)]
    if sample is not None:
        hit = F.col(key).isin(list(sample))
        aggs += [
            F.count(F.when(hit, F.lit(1))),
            F.bit_xor(F.when(hit, h)),
            F.sum(F.when(hit, lo)),
        ]
    return tuple(df.agg(*aggs).collect()[0])


def rounded_matches(df: DataFrame) -> DataFrame:
    """Conflation output in the oracle's projection (lon/lat rounded
    to 9 places, as the driver's conflate query does)."""
    return df.select(
        "osm_id",
        "overture_id",
        F.round(F.col("lon"), 9).alias("lon"),
        F.round(F.col("lat"), 9).alias("lat"),
        "distance_m",
        "similarity",
    )


def pandas_fingerprint(spark: SparkSession, pdf: pd.DataFrame, schema) -> tuple:
    """Fingerprint of an oracle frame, hashed exactly as engine output
    of the same schema is."""
    return fingerprint(spark.createDataFrame(pdf, schema=schema))


def _duck(path: str, view: str, cols: str):
    con = duckdb.connect()
    con.execute(f"CREATE VIEW {view} AS SELECT {cols} FROM read_parquet('{path}')")
    return con


def conflate_oracle(keys_path: str) -> dict[str, pd.DataFrame]:
    """Oracle matches plus both layers (for the knn spec)."""
    con = _duck(keys_path, "customer", "k AS c_custkey")
    cte = f"{demo.sql_layers_cte()},{demo.SQL_MATCHES}"
    out = {
        "matches": con.execute(
            f"{cte} SELECT {', '.join(MATCH_COLS)} FROM matches"
        ).fetchdf(),
        "a": con.execute(
            f"{cte} SELECT osm_id, name, housenumber, lon, lat FROM layer_a"
        ).fetchdf(),
        "b": con.execute(
            f"{cte} SELECT id, name, housenumber, lon, lat FROM layer_b"
        ).fetchdf(),
    }
    con.close()
    m = out["matches"]
    for c in ("lon", "lat", "distance_m", "similarity"):
        m[c] = m[c].astype("float64")
    return out


def grouped_oracle(matches: pd.DataFrame) -> pd.DataFrame:
    """`enrich.group_matches` semantics: per osm_id the matches as
    (distance_m, overture_id, similarity) structs sorted ascending,
    plus their count."""
    m = matches.sort_values(["osm_id", "distance_m", "overture_id", "similarity"])
    rows = []
    for osm_id, g in m.groupby("osm_id", sort=False):
        rows.append(
            (
                osm_id,
                [
                    {"distance_m": d, "overture_id": o, "similarity": s}
                    for d, o, s in zip(g.distance_m, g.overture_id, g.similarity)
                ],
                len(g),
            )
        )
    return pd.DataFrame(rows, columns=["osm_id", "matches", "match_count"])


def unmatched_probes(a: pd.DataFrame, matches: pd.DataFrame) -> pd.DataFrame:
    named = a[a["name"].notna() & (a["name"] != "")]
    return named[~named["osm_id"].isin(set(matches["osm_id"]))]


def knn_sample(unmatched: pd.DataFrame, size: int, seed: int) -> list[str]:
    rng = np.random.default_rng(seed)
    ids = np.sort(unmatched["osm_id"].to_numpy())
    take = rng.choice(len(ids), size=min(size, len(ids)), replace=False)
    return sorted(ids[take].tolist())


def knn_spec_sample(oracle: dict, sample: list[str]) -> pd.DataFrame:
    from overmatch_spark.spec import knn_spec

    a = oracle["a"][oracle["a"]["osm_id"].isin(set(sample))]
    return knn_spec(a, oracle["b"], oracle["matches"])


# minhash_lsh_pairs' defaults
BANDS, ROWS_PER_BAND, THRESHOLD, SHINGLE_K = 8, 2, 0.7, 3


def minhash_oracle(corpus_path: str) -> dict:
    """Pairs and candidate-pair count of `minhash_lsh_pairs` with its
    default parameters, on DuckDB (intermediates kept as temp tables
    so each is computed once)."""
    con = _duck(corpus_path, "documents", "doc_id, text")
    sig_items = ", ".join(
        dd.sql_minhash_sig_item("th", j) for j in range(BANDS * ROWS_PER_BAND)
    )
    key = ", ',', ".join(
        f"CAST(sig[band * {ROWS_PER_BAND} + {r + 1}] AS VARCHAR)"
        for r in range(ROWS_PER_BAND)
    )
    inter = "CAST(len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS DOUBLE)"
    for sql in (
        f"CREATE TEMP TABLE shing AS SELECT doc_id, {dd.sql_shingles('text', SHINGLE_K)} AS sh FROM documents",
        f"""CREATE TEMP TABLE sig AS
            SELECT doc_id, [{sig_items}] AS sig FROM (
              SELECT doc_id, {dd.sql_minhash_token_hashes('sh')} AS th FROM shing)""",
        f"""CREATE TEMP TABLE banded AS
            SELECT doc_id, band, concat({key}) AS key
            FROM sig, (SELECT unnest(range({BANDS})) AS band)""",
        """CREATE TEMP TABLE cand AS
            SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
            FROM banded l JOIN banded r
              ON l.band = r.band AND l.key = r.key AND l.doc_id < r.doc_id""",
    ):
        con.execute(sql)
    pairs = con.execute(
        f"""SELECT id_a, id_b, jaccard FROM (
              SELECT id_a, id_b,
                     round({inter} / (CAST(len(a.sh) + len(b.sh) AS DOUBLE) - {inter}), 9) AS jaccard
              FROM cand JOIN shing a ON a.doc_id = id_a JOIN shing b ON b.doc_id = id_b)
            WHERE jaccard >= {THRESHOLD}"""
    ).fetchdf()
    n_cand = con.execute("SELECT count(*) FROM cand").fetchone()[0]
    con.close()
    return {"pairs": pairs, "candidates": int(n_cand)}
