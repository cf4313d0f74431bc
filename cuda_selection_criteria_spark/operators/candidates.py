"""Candidate generation: LSH band explode + self-equi-join + CB prune.

Replaces the reference's O(N^2) pair enumeration
(/root/reference/src/selection.cpp:270-291, selection_cuda.cpp:146-150)
with the Spark-native equivalent: a pair survives iff

  - both cardinalities > 0 (selection.cpp:281 skip),
  - CB: min(card)/max(card) >= tau (criteria_sketch.hpp:45-49 — the
    sorted+break loop is just an early-exit evaluation of this same
    symmetric predicate, so no global sort is needed),
  - smh_a: SOME band of r consecutive signature values is equal
    (criteria_sketch.hpp:66-81) == equi-join on the raw band slice.

Joining on the raw band slice (array<long>) makes hash collisions
impossible by construction — band equality IS the join condition.
The band join and the CB log-cardinality bucket join are one bucket
self-join (``_bucket_pairs``) with one cap, one salting step and one
CB prune. For hll_a / hll_an / cb the pipeline runs ``cb_tile_pairs``
instead: the same bucket sides, grouped, with CB, the aux criterion
and verify in one numpy pass per bucket.

Scale notes (north_rule):
- band rows are (band_id, band slice, url_id, card_i) — no urls, no
  16KiB register blobs through this shuffle;
- AQE skew-join splitting handles hot band keys (template pages);
  ``salt_target`` optionally salts hot buckets and ``max_band_bucket``
  caps pathological ones (both off by default: parity keeps every
  colliding pair);
- the CB filter runs pre-dedup, cutting the dropDuplicates shuffle.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..oracle import DedupConfig


def cb_bucket_pairs(
    sketches: DataFrame,
    cfg: DedupConfig,
    salt_target: int | None = None,
    max_bucket: int | None = None,
) -> DataFrame:
    """Candidate pairs for the non-LSH criteria (hll_a / hll_an / cb):
    the Spark-native form of the reference's sorted + prefix-break scan
    (SURVEY.md §2 O1/O2).

    CB(tau, cA, cB) = cA/cB >= tau (cA <= cB) implies
    |floor(log_(1/tau) cA) - floor(log_(1/tau) cB)| <= 1, so an
    equi-join on log-cardinality buckets (right side exploded to
    {b-1, b, b+1}) touches every CB-surviving pair exactly, without a
    global sort or O(N^2) enumeration. The right side must cover BOTH
    adjacent buckets: the join is followed by an ``id_a < id_b`` filter,
    and a straddling pair whose lower-bucket doc has the larger url_id
    only survives in the (a=higher-bucket, b=lower-bucket) orientation.
    The exact CB predicate re-filters after the join. Each pair meets
    exactly once, in its side-a doc's own bucket (salted: on one (bkt,
    sa, sb)), so the shared ``_bucket_pairs`` dropDuplicates, which the
    band join needs (a pair can collide in several bands), removes
    nothing here. When the criterion needs
    hll_aux blobs they are joined back AFTER the pair dedup (late
    payload attach: the 256 B blobs ride neither the bucket join, the
    salt explode nor the dedup exchange — at 10^10 CB-surviving pairs
    that is TBs of avoidable shuffle payload).

    Flood guard: at tau=0.9 one bucket spans only ~11% in cardinality,
    and web corpora concentrate document sizes — ~100 buckets cover
    10..10^6-shingle docs, so at 10^12 docs a single bucket holds
    ~10^10 rows and an unguarded self-join is quadratic within it.
    ``salt_target`` and ``max_bucket`` are the band join's two-level
    salting and bucket cap (see ``candidate_pairs``), applied to the
    log-cardinality buckets. Note the criterion itself stays inherently
    pairwise post-CB — that is the reference's hll_a/hll_an semantics
    (selection.cpp evaluates every CB-surviving pair); smh_a's banded
    LSH remains the 10^12-doc scale default, with salting making
    hll_a/hll_an *executable* at scale rather than straggler-bound.

    This is the pair form. ``dedup_from_sketches``, and with it ``cli
    dedup``, runs ``cb_tile_pairs``, which evaluates the same pairs
    inside per-bucket tiles; this one stays because the layered
    benchmark's traced run and the tests import it.
    """
    base, neighbours = _log_buckets(sketches, cfg.tau)
    pairs = _bucket_pairs(
        base, ["bkt"], neighbours, cfg.tau, salt_target, max_bucket
    )
    if "hll_aux" in sketches.columns:
        payload = sketches.select("url_id", "hll_aux")
        pairs = pairs.join(
            payload.select(
                F.col("url_id").alias("id_a"), F.col("hll_aux").alias("aux_a")
            ),
            "id_a",
        ).join(
            payload.select(
                F.col("url_id").alias("id_b"), F.col("hll_aux").alias("aux_b")
            ),
            "id_b",
        )
    return pairs


# a-row x b-row evaluations per step of the tile kernel; bounds its
# index arrays and the aux register rows it gathers per step
_PAIR_CHUNK = 1 << 16


def cb_tile_pairs(
    sketches: DataFrame,
    cfg: DedupConfig,
    salt_target: int | None = None,
    max_bucket: int | None = None,
) -> DataFrame:
    """Verified pairs for the non-LSH criteria (hll_a / hll_an / cb):
    ``cb_bucket_pairs`` -> ``aux_criterion_filter`` (hll_*) ->
    ``verify_pairs(with_ids=True)`` in one grouped pass, the shape of
    the reference's per-pair cascade (selection.cpp:270-291). Emits
    (id_a, id_b, url_a, url_b, jaccard), the same rows as that chain.

    The exchange groups per-document rows (url_id, card_i, url, hll14[,
    hll_aux]) by log-cardinality bucket, each doc on its own bucket
    and both neighbours (three rows a doc, one at tau=1). One numpy
    pass per group then enumerates the a x b pairs with id_a < id_b
    that pass CB, in chunks of ``_PAIR_CHUNK``, applies the aux
    criterion to the group's own aux registers and verifies the
    survivors with the verify stage's kernel. Each sketch is shipped
    once per bucket row, not twice per candidate pair.

    ``max_bucket`` and ``salt_target`` are ``_bucket_sides``' cap and
    salting. Salted groups are keyed (bkt, sa, sb) and rows carry their
    a/b role, so each pair is evaluated in exactly one group, as in the
    join. Trade: without ``salt_target`` one bucket is one group, held
    whole by one Python worker at about 5 KB a row (the p=14 blob);
    ``salt_target`` bounds it, as hll_* at scale needs anyway. Salting
    ships each row of a bucket split s ways s times, blob included, and
    makes s^2 groups of it, so a target of a few rows costs far more
    than it saves: keep it near the largest group a worker should hold.
    """
    from .verify import VERIFY_SCHEMA_IDS

    payload = ["url", "hll14"]
    if cfg.criterion in ("hll_a", "hll_an"):
        payload.append("hll_aux")
    base, neighbours = _log_buckets(sketches, cfg.tau, payload)
    a, b, key = _bucket_sides(
        base.withColumn("own", F.col("bkt")),
        ["bkt"],
        neighbours,
        salt_target,
        max_bucket,
        ["own", *payload],
    )
    salted = key != ["bkt"]

    def rows(side: DataFrame, s: str, is_a: Column, is_b: Column) -> DataFrame:
        return side.select(
            *key,
            F.col(f"id_{s}").alias("url_id"),
            F.col(f"card_{s}").alias("card_i"),
            *payload,
            is_a.alias("is_a"),
            is_b.alias("is_b"),
        )

    # a doc's b row on its own bucket is also its a row (salted: on the
    # one (sa, sb) both its salts pick), so only side a's other rows ship
    same = F.col("sa") == F.col("sb") if salted else F.lit(True)
    tiles = rows(b, "b", (F.col("bkt") == F.col("own")) & same, F.lit(True))
    if salted:
        tiles = tiles.unionByName(rows(a.where(~same), "a", F.lit(True), F.lit(False)))
    # the plain groupBy exchange: AQE sizes it, and an explicit-width
    # repartition on the key measured slower
    return tiles.groupBy(*key).applyInPandas(_tile_kernel(cfg), schema=VERIFY_SCHEMA_IDS)


def _tile_kernel(cfg: DedupConfig):
    import numpy as np
    import pandas as pd

    from ..sketchlib.criteria import aux_select_batch
    from .verify import _verify_batches

    verify = _verify_batches(cfg, with_ids=True)
    crit, tau = cfg.criterion, cfg.tau
    aux = crit in ("hll_a", "hll_an")
    m = 1 << cfg.aux_p
    chunk = _PAIR_CHUNK

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        rows_a = np.flatnonzero(pdf["is_a"].values)
        rows_b = np.flatnonzero(pdf["is_b"].values)
        ids = pdf["url_id"].values
        cards = pdf["card_i"].values
        fcards = cards.astype(np.float64)
        if aux:
            regs = np.frombuffer(b"".join(pdf["hll_aux"]), dtype=np.uint8)
            regs = regs.reshape(len(pdf), m)
        step = max(1, chunk // max(len(rows_b), 1))
        keep_a, keep_b = [], []
        for lo in range(0, len(rows_a), step):
            part = rows_a[lo : lo + step]
            ia = np.repeat(part, len(rows_b))
            ib = np.tile(rows_b, len(part))
            ca, cb = fcards[ia], fcards[ib]
            ok = (ids[ia] < ids[ib]) & (np.minimum(ca, cb) / np.maximum(ca, cb) >= tau)
            ia, ib = ia[ok], ib[ok]
            if aux and len(ia):
                ok = aux_select_batch(
                    crit, tau, cards[ia], cards[ib], regs[ia], regs[ib],
                    cfg.aux_p, cfg.z_score, cfg.order_n,
                )
                ia, ib = ia[ok], ib[ok]
            keep_a.append(ia)
            keep_b.append(ib)
        if not keep_a:
            return pd.DataFrame()  # an empty result may have no columns
        ia, ib = np.concatenate(keep_a), np.concatenate(keep_b)
        urls, blobs = pdf["url"].values, pdf["hll14"].values
        pairs = pd.DataFrame(
            {
                "id_a": ids[ia],
                "id_b": ids[ib],
                "url_a": urls[ia],
                "url_b": urls[ib],
                "card_a": cards[ia],
                "card_b": cards[ib],
                "hll_a": blobs[ia],
                "hll_b": blobs[ib],
            }
        )
        out = list(
            verify(pairs.iloc[lo : lo + chunk] for lo in range(0, len(pairs), chunk))
        )
        return pd.concat(out, ignore_index=True) if out else pd.DataFrame()

    return fn


def _log_buckets(
    sketches: DataFrame, tau: float, carry: list[str] = ()
) -> tuple[DataFrame, list[Column] | None]:
    """sketches -> (url_id, card_i, *carry, bkt) rows with bkt =
    floor(log_(1/tau) card_i), and the b-side key that puts each doc in
    its own bucket and both neighbours. At tau == 1 CB keeps only equal
    cardinalities, so bkt is card_i itself and side b stays on it."""
    rows = sketches.where(F.col("card_i") > 0)
    if tau == 1.0:
        return rows.select("url_id", "card_i", *carry, F.col("card_i").alias("bkt")), None
    inv_log = 1.0 / math.log(1.0 / tau)
    base = rows.select(
        "url_id",
        "card_i",
        *carry,
        F.floor(F.log(F.col("card_i").cast("double")) * F.lit(inv_log)).alias("bkt"),
    )
    bkt = F.col("bkt")
    return base, [F.explode(F.array(bkt - 1, bkt, bkt + 1)).alias("bkt")]


def _cb_keep(tau: float) -> Column:
    """The CB predicate, symmetric form: min(card)/max(card) >= tau."""
    return (
        F.least("card_a", "card_b").cast("double")
        / F.greatest("card_a", "card_b").cast("double")
        >= F.lit(tau)
    )


def aux_criterion_filter(pairs: DataFrame, cfg: DedupConfig) -> DataFrame:
    """hll_a / hll_an pair predicate over joined aux register blobs
    (criteria_sketch.hpp:52-64), vectorized per Arrow batch.

    The pair form, for ``cb_bucket_pairs``' output: ``cb_tile_pairs``
    applies the same predicate (``sketchlib.criteria.aux_select_batch``)
    inside its tiles, and the pipeline uses that. This one stays for
    the layered benchmark's traced run and the tests."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from ..sketchlib.criteria import aux_select_batch

    p = cfg.aux_p
    m = 1 << p
    schema = "id_a long, id_b long, card_a long, card_b long"

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            ra = np.frombuffer(b"".join(pdf["aux_a"]), dtype=np.uint8).reshape(n, m)
            rb = np.frombuffer(b"".join(pdf["aux_b"]), dtype=np.uint8).reshape(n, m)
            keep = aux_select_batch(
                cfg.criterion, cfg.tau, pdf["card_a"].values, pdf["card_b"].values,
                ra, rb, p, cfg.z_score, cfg.order_n,
            )
            out = pdf.loc[keep, ["id_a", "id_b", "card_a", "card_b"]]
            if len(out):
                yield out

    return pairs.mapInPandas(fn, schema=schema)


def _star_pairs(
    sketches: DataFrame, cfg: DedupConfig, max_band_bucket: int | None
) -> DataFrame:
    """Star pairing: every bucket member pairs with the bucket's
    minimum url_id; CB still filters each pair.

    The per-bucket minimum (and size, when capping) is a groupBy
    aggregate joined back on the band key — partial (map-side)
    aggregation computes the min in parallel, and the equi-join is
    AQE-skew-splittable. A Window.partitionBy(band) formulation would
    funnel every row of a hot bucket into ONE task (windows can't be
    skew-split) — the exact flood case star mode exists for.
    """
    bands = explode_bands(sketches, cfg)
    stats = bands.groupBy("band_id", "band").agg(
        F.min(F.struct("url_id", "card_i")).alias("_min"),
        F.count("*").alias("_n"),
    )
    if max_band_bucket is not None:
        stats = stats.where(F.col("_n") <= max_band_bucket)
    # inner join: rows in dropped (oversized) buckets simply don't match
    annotated = bands.join(stats, ["band_id", "band"])
    return (
        annotated.where(F.col("url_id") != F.col("_min.url_id"))
        .select(
            F.least("url_id", F.col("_min.url_id")).alias("id_a"),
            F.greatest("url_id", F.col("_min.url_id")).alias("id_b"),
            F.when(F.col("url_id") < F.col("_min.url_id"), F.col("card_i"))
            .otherwise(F.col("_min.card_i"))
            .alias("card_a"),
            F.when(F.col("url_id") < F.col("_min.url_id"), F.col("_min.card_i"))
            .otherwise(F.col("card_i"))
            .alias("card_b"),
        )
        .where(_cb_keep(cfg.tau))
        .dropDuplicates(["id_a", "id_b"])
    )


def explode_bands(sketches: DataFrame, cfg: DedupConfig) -> DataFrame:
    """sketches -> (url_id, card_i, band_id, band) rows, n_bands per doc."""
    n_bands, n_rows = cfg.bands
    slices = F.array(
        *[F.slice(F.col("smh"), b * n_rows + 1, n_rows) for b in range(n_bands)]
    )
    return (
        sketches.where(F.col("card_i") > 0)
        .select("url_id", "card_i", F.posexplode(slices).alias("band_id", "band"))
    )


def candidate_pairs(
    sketches: DataFrame,
    cfg: DedupConfig = DedupConfig(),
    max_band_bucket: int | None = None,
    bucket_pairing: str = "all",
    salt_target: int | None = None,
) -> DataFrame:
    """-> (id_a, id_b, card_a, card_b) candidate pairs, id_a < id_b.

    ``bucket_pairing``:
      - "all" (default, reference parity): every pair within a band
        bucket — a bucket of f near-identical template pages emits
        f(f-1)/2 pairs, exactly like the reference would.
      - "star": each bucket member pairs only with the bucket minimum —
        O(f) pairs, same connected components (the clustering output is
        preserved whenever the bucket min verifies against members,
        which near-identical template cliques do). This is the
        10^12-doc mode: candidate volume becomes linear in corpus size
        instead of quadratic in clique size. It ignores ``salt_target``:
        its output is already linear in the bucket size.
      Any other value raises ``ValueError``.

    ``max_band_bucket``: if set, band buckets larger than this are
    dropped entirely (last-resort flood guard; OFF for parity).

    ``salt_target``: explicit two-level salting for hot band keys (the
    OpenMP-dynamic-schedule analogue the reference uses for skewed
    per-file cost, src/build_sketch.cpp:232; SURVEY §4). A bucket of f
    rows is split into s = ceil(f / salt_target) salt blocks; each side
    joins on (band, salt_a, salt_b), spreading the f^2 pair work over
    s^2 shuffle keys of ~salt_target^2 work each instead of one
    straggler key. Every pair still appears exactly once (a's salt pins
    salt_a, b's pins salt_b). Buckets at or under salt_target are
    untouched (s = 1). OFF by default: AQE skew-join splitting covers
    moderate skew; turn this on when one template clique exceeds what a
    single task should hold.
    """
    if bucket_pairing not in ("all", "star"):
        raise ValueError(f"unknown bucket_pairing: {bucket_pairing!r}")
    if bucket_pairing == "star":
        return _star_pairs(sketches, cfg, max_band_bucket)
    return _bucket_pairs(
        explode_bands(sketches, cfg),
        ["band_id", "band"],
        None,
        cfg.tau,
        salt_target,
        max_band_bucket,
    )


def _bucket_sides(
    base: DataFrame,
    key: list[str],
    b_key: list[Column] | None,
    salt_target: int | None,
    max_bucket: int | None,
    carry: list[str] = (),
) -> tuple[DataFrame, DataFrame, list[str]]:
    """Rows (key..., url_id, card_i, *carry) -> the two sides of the
    bucket self-join, (join key..., id_a, card_a, *carry) and (join
    key..., id_b, card_b, *carry), and the join key.

    Side a sits on ``key``; side b on ``b_key`` (``None``: ``key``
    itself), which may explode one row onto several keys.

    ``max_bucket`` drops the rows of keys whose OWN size exceeds it,
    before the sides are built — capping on side b's exploded load
    would also drop keys merely adjacent to a flooded one.

    ``salt_target`` splits every key whose load, the larger of its two
    side counts, exceeds the target into s = ceil(load / target) salt
    blocks: a row of side a takes salt sa = hash(id) mod s and joins
    every sb, a row of side b the reverse, so each pair meets on exactly
    one (key, sa, sb) and no such key holds more than ~target rows a
    side.
    """
    if max_bucket is not None:
        # only the few keys over the cap survive the filter: it broadcasts
        over = (
            base.groupBy(*key)
            .agg(F.count("*").alias("_n"))
            .where(F.col("_n") > max_bucket)
            .select(*key)
        )
        base = base.join(F.broadcast(over), key, "left_anti")
    a = base.select(
        *key, F.col("url_id").alias("id_a"), F.col("card_i").alias("card_a"), *carry
    )
    b = base.select(
        *(b_key or key),
        F.col("url_id").alias("id_b"),
        F.col("card_i").alias("card_b"),
        *carry,
    )
    if salt_target is None:
        return a, b, key
    load = a.groupBy(*key).agg(F.count("*").alias("_load"))
    if b_key is not None:
        # with a shared key both sides count the same rows: no join, which
        # for band keys (nearly one per band row) would not be small
        n_b = b.groupBy(*key).agg(F.count("*").alias("_nb"))
        load = load.join(n_b, key).select(
            *key, F.greatest("_load", "_nb").alias("_load")
        )
    hot = load.where(F.col("_load") > salt_target)
    s = F.ceil(F.coalesce(F.col("_load"), F.lit(1)) / F.lit(salt_target)).cast("int")
    all_salts = F.explode(F.sequence(F.lit(0), s - 1))
    a = a.join(F.broadcast(hot), key, "left").select(
        *key,
        F.pmod(F.xxhash64("id_a"), s).cast("int").alias("sa"),
        all_salts.alias("sb"),
        "id_a",
        "card_a",
        *carry,
    )
    b = b.join(F.broadcast(hot), key, "left").select(
        *key,
        all_salts.alias("sa"),
        F.pmod(F.xxhash64("id_b"), s).cast("int").alias("sb"),
        "id_b",
        "card_b",
        *carry,
    )
    return a, b, [*key, "sa", "sb"]


def _bucket_pairs(
    base: DataFrame,
    key: list[str],
    b_key: list[Column] | None,
    tau: float,
    salt_target: int | None,
    max_bucket: int | None,
) -> DataFrame:
    """The bucket self-join both candidate generators share: rows
    (key..., url_id, card_i) -> (id_a, id_b, card_a, card_b), id_a <
    id_b, CB-pruned before the dedup shuffle (see ``_bucket_sides``)."""
    a, b, join_key = _bucket_sides(base, key, b_key, salt_target, max_bucket)
    return (
        a.join(b, join_key)
        .where(F.col("id_a") < F.col("id_b"))
        .where(_cb_keep(tau))
        .select("id_a", "id_b", "card_a", "card_b")
        .dropDuplicates(["id_a", "id_b"])
    )
