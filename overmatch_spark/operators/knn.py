"""kNN fallback (SURVEY.md J8 — north-rule extension).

The reference silently drops OSM rows with zero matches
(/root/reference/scripts/match.py:217,229); the north rule adds a
nearest-neighbor fallback for them. Two-phase exact algorithm:

  Phase 1 (bulk): dynamic exact cell cover of the (±edge/2) square at
  a fine resolution (avg ~4 cells/probe — half the shuffle volume of
  a 3x3 cover, same guarantee at radius edge/2). A found minimum
  d <= edge/2 − 2 mm is PROVABLY the global nearest (the cover
  contains the whole disk of radius edge/2, and the −2 mm slack keeps
  every candidate sharing the winner's mm-rounded tie-break key
  inside the cover), so the probe exits.

  Phase 2 (stragglers): every straggler first gets a per-row UPPER
  BOUND on its nearest distance —
    hinted   — its phase-1 best candidate distance (+ tie slack);
    hintless — an OCCUPANCY PYRAMID of the build side: at each coarse
    ladder level (res0-2, res0-4, ..., and always the world level 0)
    one narrow row per occupied cell, carrying the bbox of the points
    in it. Each probe equi-joins its own cell at every level on
    (lvl, cell) and takes the min over the matched cells of the max
    possible distance to the bbox; every bbox holds a point, so the
    min bounds the nearest. Cell indices are clamped into the world's
    [0, 2^lvl - 1] range on BOTH sides, so level 0 is one cell that
    every build point occupies and every probe joins — a bound exists
    for any probe, even outside the Web Mercator domain.
  A hinted straggler's ub is provably <= ~2.13*edge(res0) (cover-bbox
  far corner + slack), so its res0 cover is <= 6x6 and it joins the
  fine path directly. Each HINTLESS straggler picks the finest level
  of a RESOLUTION LADDER (res0, res0-2, ..., down to res0 % 2 — the
  enumerable floor _ladder_floor aligns the clamp to) satisfying
  ub <= 2*edge —
  so its dynamic cover is ALWAYS <= 6x6 cells regardless of how far
  its nearest neighbor is — and joins the cached build side once on
  the (level, cell) equi-key. The build side is the LAZY broadcast
  cross product needed-levels x b, so it materializes exactly the
  levels some probe actually chose — zero build rows in the common
  all-fine case. Level choice shapes the physical search
  only; any level is exact because a dynamic cover of radius ub
  contains the whole disk that provably holds the nearest + its
  mm-rounded ties.

Naive ring-expansion to coarser cells is NOT used: at coarse
resolutions dense cells make the candidate fan-out quadratic (probes
x cell population) — measured as the difference between a 2e9-row
join and a bounded-cover equi-join at sf0.1. The pyramid is used
for BOUNDS only (one row per occupied cell, never its points), so
that objection does not apply to it; candidates still come from the
ladder cover, which keeps a ~300 m bound off ~4.9 km cells that
would drag in ~130 candidates each where fine cells hold ~2.

Tie-break: (rint(dist*1000), id) — millimeter-rounded distance then
lexicographic id, so single-node oracles (numpy spec, DuckDB)
reproduce it without last-ulp ambiguity.

Why the fallback is NOT fused into the conflation join (considered
twice, rejected deliberately): emitting a per-probe best-candidate
byproduct from conflate's cell join requires either (a) persisting
the RAW pre-filter candidate stream — at 10^12-image scale an
unbounded cache whose spill cost dwarfs the bounded second cell join
it would save — or (b) re-executing the join on a narrow projection,
which is exactly what phase 1 already is. Matched probes need no
fallback and unmatched probes' match rows don't exist, so the cheap
byproduct (aggregating the persisted MATCH table) cannot hint the
rows this operator serves. The two-phase design keeps conflation's
plan clean and bounds every fallback structure (covers <= 6x6 cells,
pyramid <= one row per occupied cell per level).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from overmatch_spark import expressions as X

# mm-rounded tie-break keys differ by < 1 mm; 2 mm slack keeps every
# tied candidate inside any bound/cover derived from a winner
_TIE_SLACK_M = 0.002

# Default registry for intermediates persisted by knn_fallback; the
# returned DataFrame is lazy and REQUIRES them at action time, so the
# operator cannot unpersist them itself. Callers that invoke
# knn_fallback repeatedly in one session (benchmarks, loops) should
# pass their OWN list via the `caches` parameter and unpersist it
# after materializing results — the module-level registry is only the
# convenience default for one-shot use, and release_caches() drains
# it (interleaved callers sharing the default registry would release
# each other's caches; own your list if that can happen).
_PERSISTED: list = []


def release_caches(caches: list | None = None) -> None:
    """Unpersist every intermediate in `caches` (default: the
    module-level registry). Only call AFTER the returned DataFrames
    were materialized (or are no longer needed)."""
    reg = _PERSISTED if caches is None else caches
    while reg:
        df = reg.pop()
        try:
            df.unpersist()
        except Exception:
            pass


def _best_per_probe(cand: DataFrame, carry: tuple = ()) -> DataFrame:
    """Exact min with the engine's tie-break rule. `carry` lists extra
    probe-side columns to ride along in the min-struct: they sit AFTER
    the (dk, overture_id) pair, which is already unique per group, so
    they never influence which candidate wins — they just travel with
    the winner (used by phase 1 to keep ax/ay without a later join)."""
    return (
        cand.groupBy("osm_id")
        .agg(
            F.min(
                F.struct(
                    F.rint(F.col("dist") * F.lit(1000.0)).alias("dk"),
                    F.col("overture_id").alias("overture_id"),
                    F.col("dist").alias("dist"),
                    *[F.col(c).alias(c) for c in carry],
                )
            ).alias("best")
        )
        .select(
            "osm_id",
            F.col("best.overture_id").alias("overture_id"),
            F.col("best.dist").alias("dist"),
            *[F.col(f"best.{c}").alias(c) for c in carry],
        )
    )


def _dyn_edge(res_col):
    """Cell edge in meters for a per-row resolution column (exact for
    integer resolutions: pow(2, r) is dyadic, so the division rounds
    identically to the literal cell_edge_m(r))."""
    return F.lit(X.WORLD_M) / F.pow(F.lit(2.0), res_col.cast("double"))


def _dyn_cover(ax, ay, radius, res_col):
    """Exact per-row cell cover of the (x±radius, y±radius) square,
    with a per-row DYNAMIC radius column — F.sequence makes the cover
    exactly as wide as each probe needs — at a resolution column: a
    literal res0 (constant-folded to the cell_edge_m(res0) literal)
    for phase 1 and the fine path, each straggler's own level for the
    ladder join."""
    edge = _dyn_edge(res_col)
    ix_lo = F.floor((ax - radius + F.lit(X.ORIGIN_M)) / edge).cast("long")
    ix_hi = F.floor((ax + radius + F.lit(X.ORIGIN_M)) / edge).cast("long")
    iy_lo = F.floor((F.lit(X.ORIGIN_M) - (ay + radius)) / edge).cast("long")
    iy_hi = F.floor((F.lit(X.ORIGIN_M) - (ay - radius)) / edge).cast("long")
    return F.flatten(
        F.transform(
            F.sequence(ix_lo, ix_hi),
            lambda i: F.transform(
                F.sequence(iy_lo, iy_hi), lambda j: X.cell_id(i, j)
            ),
        )
    )


def _ladder_floor(res0: int) -> int:
    """Coarsest enumerable ladder level for a given res0 — MUST agree
    with the build side's range(res0-2, -1, -2): res0%2 is the last
    value that range emits (0 for even res0, 1 for odd), so a clamp
    below it would choose a level the build side never enumerates and
    silently drop the probe."""
    return res0 % 2 if res0 >= 2 else res0


def _pyramid_cells(x, y, res0: int):
    """(lvl, cell) of a point at every coarse ladder level (res0-2,
    res0-4, ..., and always the world level 0), as an array of structs
    for F.inline. Cell indices are clamped into [0, 2^lvl - 1] — the
    same clamp on the build points and the probes, so a probe outside
    the Web Mercator domain still finds occupied cells, and level 0 is
    one cell that every probe joins and every build point occupies."""

    def clamp(i, lvl):
        return F.least(F.greatest(i, F.lit(0)), F.lit((1 << lvl) - 1))

    return F.array(*[
        F.struct(
            F.lit(lvl).alias("lvl"),
            X.cell_id(
                clamp(X.cell_ix(x, lvl), lvl), clamp(X.cell_iy(y, lvl), lvl)
            ).alias("cell"),
        )
        for lvl in sorted({*range(res0 - 2, -1, -2), 0})
    ])


def _ladder_level(ub, res0: int):
    """Finest ladder level (res0, res0-2, ..., floor) with
    ub <= 2*edge — guarantees the dynamic cover is <= 6x6 cells for
    any level the inequality holds at; at the floor level the world
    itself is only a handful of cells (out-of-world cover indices
    join nothing), so covers stay bounded even for a worst-case ub
    that exceeds 2*edge there. Any
    level is exact; this one balances cover fan-out (shuffle rows)
    against per-cell candidate volume."""
    # ub <= 2*edge(l)  <=>  l <= log2(2*WORLD/ub)
    l_raw = F.floor(F.log2(F.lit(2.0 * X.WORLD_M) / ub)).cast("int")
    l_raw = F.least(F.lit(res0), l_raw)
    # snap DOWN (coarser) onto the even-step ladder, clamp at the
    # enumerable floor (ceil(delta/2)*2 — Spark's `/` is double
    # division, so floor it)
    delta = F.lit(res0) - l_raw
    snapped = F.lit(res0) - F.floor(
        (delta + F.lit(1)) / F.lit(2.0)
    ).cast("int") * F.lit(2)
    return F.greatest(F.lit(_ladder_floor(res0)), snapped)


def knn_fallback(
    layer_a: DataFrame,
    layer_b: DataFrame,
    matches: DataFrame,
    res0: int = 16,
    caches: list | None = None,
) -> DataFrame:
    """Nearest layer_b feature for every named layer_a row absent from
    `matches`. Returns (osm_id, overture_id, distance_m).

    Output is invariant to res0 (it shapes the physical search only —
    property- and oracle-tested).

    `caches`: list the persisted intermediates are appended to; the
    caller unpersists them (release_caches(caches)) after
    materializing the result. Defaults to the module registry."""
    reg = _PERSISTED if caches is None else caches
    # probes feed phase 1, the straggler anti-join, and phase 2 —
    # persist (narrow: id + 2 doubles per unmatched row). The matched
    # -id side is dropDuplicates'd: anti-join results ignore dup keys,
    # and the dedup's partial (map-side) aggregate means the exchange
    # the join needs anyway now carries only distinct ids (-35% of
    # that shuffle on the bench corpus) — no extra exchange, the
    # dedup's hash(osm_id) partitioning is exactly the join's.
    # Full-row dropDuplicates after the anti-join: duplicate input
    # rows (same id AND coords) contribute nothing — every downstream
    # consumer is a per-osm_id min — so collapsing them here shrinks
    # the phase-1 cover explode, the joins, and the distance math by
    # the duplicate fraction (24% on the bench corpus). Exchange-free:
    # the anti-join leaves hash(osm_id) partitioning, which already
    # clusters the (osm_id, ax, ay) grouping keys, so the dedup is a
    # local aggregate and the cache keeps the osm_id partitioning.
    probes = (
        layer_a.filter(F.col("name").isNotNull() & (F.col("name") != ""))
        .join(matches.select("osm_id").dropDuplicates(), "osm_id", "left_anti")
        .select(
            "osm_id",
            X.merc_x(F.col("lon")).alias("ax"),
            X.merc_y(F.col("lat")).alias("ay"),
        )
        .dropDuplicates(["osm_id", "ax", "ay"])
        .persist()
    )
    reg.append(probes)
    # ONE cached build table (scanned/derived once, reused by phase 1,
    # the occupancy pyramid, and the ladder join), hash-partitioned on
    # the res0 `cell` key at cache time: phase 1 AND the phase-2 fine
    # path both equi-join on `cell`, so pre-partitioning the cache
    # removes the build-side Exchange from BOTH joins — the exchange
    # is paid once at materialization instead of once per join (the
    # fine-path join re-deriving this same projection/key was measured
    # as the largest slice of the cold `final` stage floor)
    # Full-row dropDuplicates, same rationale and same exchange-free
    # shape as the probe side: duplicate build rows can never change a
    # per-probe min (identical (overture_id, dist) candidates), and
    # hash(cell) already clusters the full key set, so the dedup is a
    # local aggregate on top of the repartition and the cache keeps
    # the cell partitioning both joins reuse.
    b = (
        layer_b.select(
            F.col("id").alias("overture_id"),
            X.merc_x(F.col("lon")).alias("bx"),
            X.merc_y(F.col("lat")).alias("by"),
        )
        .withColumn("cell", X.cell_of(F.col("bx"), F.col("by"), res0))
        .repartition("cell")
        .dropDuplicates(["overture_id", "bx", "by", "cell"])
        .persist()
    )
    reg.append(b)

    # ---- phase 1: dynamic exact cover at radius edge/2 ----
    r1 = X.cell_edge_m(res0) / 2.0
    probe1 = probes.withColumn(
        "cell",
        F.explode(
            _dyn_cover(F.col("ax"), F.col("ay"), F.lit(r1), F.lit(res0))
        ),
    )
    cand1 = probe1.join(b.select("cell", "overture_id", "bx", "by"), "cell").withColumn(
        "dist",
        X.planar_distance(F.col("ax"), F.col("ay"), F.col("bx"), F.col("by")),
    )
    # best1 feeds BOTH the provable-exit filter and the phase-2 hints;
    # persist it (tiny: <= one row per probe) so the phase-1 join is
    # not recomputed lazily for each consumer. It CARRIES the probe's
    # (ax, ay) inside the min-struct — the (dk, overture_id) prefix is
    # unique per group so the carried columns never affect the winner
    # — which lets `hinted` read straight off best1 and turns the old
    # probes-vs-best1 LEFT join (+ its persist) into nothing: the only
    # remaining probe split is the `rest` anti-join below, which reuses
    # the hash(osm_id) partitioning both caches already have.
    best1 = _best_per_probe(cand1, carry=("ax", "ay")).persist()
    reg.append(best1)
    exit1 = F.lit(r1 - _TIE_SLACK_M)
    done1 = best1.filter(F.col("dist") <= exit1).select(
        "osm_id", "overture_id", "dist"
    )

    # ---- phase 2, step 1: an upper bound for every straggler ----
    # hinted: the phase-1 candidate distance is a per-row upper bound
    # (hint osm_ids are disjoint from done1 by the exit filter)
    hinted = best1.filter(F.col("dist") > exit1).select(
        "osm_id", "ax", "ay",
        (F.col("dist") + F.lit(_TIE_SLACK_M)).alias("ub"),
    )
    # hintless: min over the probe's occupied pyramid cells of the
    # max possible distance to the bbox of the cell's points (each
    # bbox holds >=1 point, so min(maxd) bounds the nearest). The
    # pyramid is one narrow row per occupied (lvl, cell), built by one
    # aggregate whose map-side partial collapses each partition's
    # points before the exchange; the probe side is ~8 rows per probe.
    # All of it is equi-joins: no broadcast hint, no nested loop.
    # rest = probes with NO phase-1 candidate at all (not in best1)
    rest = probes.join(best1.select("osm_id"), "osm_id", "left_anti")
    pyramid = (
        b.select(
            F.inline(_pyramid_cells(F.col("bx"), F.col("by"), res0)),
            "bx", "by",
        )
        .groupBy("lvl", "cell")
        .agg(
            F.min("bx").alias("xlo"), F.max("bx").alias("xhi"),
            F.min("by").alias("ylo"), F.max("by").alias("yhi"),
        )
    )
    mxx = F.greatest(
        F.abs(F.col("xlo") - F.col("ax")), F.abs(F.col("xhi") - F.col("ax"))
    )
    mxy = F.greatest(
        F.abs(F.col("ylo") - F.col("ay")), F.abs(F.col("yhi") - F.col("ay"))
    )
    maxdist = F.sqrt(mxx * mxx + mxy * mxy)
    # one narrow row per HINTLESS straggler; persisted because both
    # the ladder cover and the needed-level prune read it (without the
    # cache the whole upper-bound pipeline, pyramid included, would
    # run twice). Hinted stragglers are NOT in this table: their ub is
    # provably <= sqrt(2)*1.5*edge + slack ≈ 2.13*edge (phase-1
    # candidate in the far corner of the cover bbox), so their res0
    # dynamic cover is <= floor(2*2.13)+2 = 6 cells per axis — the
    # same 6x6 bound the ladder guarantees — and they go straight to
    # the fine path below with no level computation. That keeps the
    # ladder/pyramid machinery on the hintless-only branch, which is
    # EMPTY on any corpus dense enough that every probe sees a phase-1
    # candidate (the common case), so the coarse join's inputs carry
    # zero rows there instead of every hinted straggler.
    ubs = (
        rest.select(
            "osm_id", "ax", "ay",
            F.inline(_pyramid_cells(F.col("ax"), F.col("ay"), res0)),
        )
        .join(pyramid, ["lvl", "cell"])
        .groupBy("osm_id", "ax", "ay")
        .agg((F.min(maxdist) + F.lit(_TIE_SLACK_M)).alias("ub"))
        .withColumn("lvl", _ladder_level(F.col("ub"), res0))
        .persist()
    )
    reg.append(ubs)

    # ---- phase 2, step 2: ladder equi-join at each probe's level ----
    # FINE path: every hinted straggler (6x6 cover bound proved above)
    # plus hintless ones whose ladder level is res0. Either path is
    # exact at any level. The fine path covers explode at res0 and
    # join the SAME b-side projection/key as phase 1, so the build
    # side needs no extra enumeration and the exchange is reusable.
    fine = hinted.unionByName(
        ubs.filter(F.col("lvl") == F.lit(res0)).drop("lvl")
    )
    cand_f = fine.select(
        "osm_id", "ax", "ay", "ub",
        F.explode(
            _dyn_cover(F.col("ax"), F.col("ay"), F.col("ub"), F.lit(res0))
        ).alias("cell"),
    ).join(b.select("cell", "overture_id", "bx", "by"), "cell").drop("cell")
    # COARSE path (rare: probes whose nearest is beyond 2*edge(res0)):
    # build side enumerates only the coarse ladder levels some probe
    # actually chose — a LAZY broadcast hash semi-join on the level
    # id. A driver-collected level list was tried and reverted: it
    # made plan construction eager and froze the level set at build
    # time, so a recomputation of the (non-deterministic-input) cache
    # after executor loss could choose a level the frozen list lacks
    # and silently drop the probe; the semi-join re-evaluates with
    # whatever the data says at action time, always consistent.
    coarse = ubs.filter(F.col("lvl") < F.lit(res0))
    probe_c = coarse.select(
        "osm_id", "ax", "ay", "ub", "lvl",
        F.explode(
            _dyn_cover(F.col("ax"), F.col("ay"), F.col("ub"), F.col("lvl"))
        ).alias("lcell"),
    )
    # build side = needed-levels x b via a broadcast cross join (the
    # lazy replacement for explode(all levels) + semi-join, which
    # streamed |b| x n_levels rows through the filter even in the
    # common case where NO probe is coarse — this emits exactly
    # |needed| x |b| rows, i.e. zero when the coarse set is empty,
    # while staying lazy/consistent under cache recomputation; the
    # driver-collected level list remains rejected, see above)
    needed = coarse.select("lvl").distinct()
    b_ladder = (
        F.broadcast(needed)
        .crossJoin(b)
        .select(
            "lvl",
            F.floor(
                (F.col("bx") + F.lit(X.ORIGIN_M)) / _dyn_edge(F.col("lvl"))
            ).cast("long").alias("bix"),
            F.floor(
                (F.lit(X.ORIGIN_M) - F.col("by")) / _dyn_edge(F.col("lvl"))
            ).cast("long").alias("biy"),
            "overture_id", "bx", "by",
        )
        .withColumn("lcell", X.cell_id(F.col("bix"), F.col("biy")))
        .drop("bix", "biy")
    )
    cand_c = probe_c.join(b_ladder, ["lvl", "lcell"]).drop("lvl", "lcell")
    cand2 = cand_f.unionByName(cand_c).withColumn(
        "dist",
        X.planar_distance(F.col("ax"), F.col("ay"), F.col("bx"), F.col("by")),
    ).filter(F.col("dist") <= F.col("ub"))
    done2 = _best_per_probe(cand2)

    return done1.unionByName(done2).select(
        "osm_id", "overture_id", X.round1(F.col("dist")).alias("distance_m")
    )
