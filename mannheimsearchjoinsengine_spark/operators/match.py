"""Stage 4a — schema (predicate) consolidation.

Reference parity: instance-based duplicate-column detection —
``schemamatching/instance/InstanceBasedColumnComparer.compareColumns:76-206``
accumulates per-aligned-row scores into ``ColumnScoreValue``
(``model/schema/ColumnScoreValue.java:8-17,80-120``); the greedy marriage
decision is ``schemamatching/Matcher.decideCombinedObjectMatching:515-713``.

Spark-native: predicates are duplicate candidates when they assert the same
(subject, object) pairs. One self-join on the (subj,obj) evidence +
jaccard over distinct-pair sets — the reference's "short-circuit on
different dtype" blocking predicate (``InstanceBasedMatcher.java:99-107``)
becomes a cheap equality filter on majority dtype before scoring.

Scale: evidence is first deduped to distinct (pred, subj, obj) triples and
aggregated; the self-join keys on (subj_norm, obj_raw) — entity-name keys
with bounded multiplicity (≤ #predicates per subject), so no skew salting is
needed here; AQE covers stragglers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from mannheimsearchjoinsengine_spark.operators.profile import pred_major_dtype


def evidence(cells: DataFrame) -> DataFrame:
    """Distinct (pred, subj, obj) evidence — it feeds several branches
    (sizes, both self-join sides, the all-preds set) of one plan, which
    share its exchange through Spark's exchange reuse; it is
    schema×entity-sized (tiny) after the one corpus-wide distinct."""
    return cells.select("pred_raw", "subj_norm", "obj_raw").distinct()


def pred_pair_scores(cells: DataFrame, ev: DataFrame | None = None) -> DataFrame:
    """A3 — per predicate pair: shared distinct (subj,obj) evidence count +
    jaccard of pair-sets. Only pairs sharing ≥1 (subj,obj) are generated."""
    ev = evidence(cells) if ev is None else ev
    sizes = ev.groupBy("pred_raw").agg(F.count("*").alias("n_pairs"))
    e1 = ev.select(
        F.col("pred_raw").alias("pred1"), "subj_norm", "obj_raw"
    )
    e2 = ev.select(
        F.col("pred_raw").alias("pred2"), "subj_norm", "obj_raw"
    )
    shared = (
        e1.join(e2, ["subj_norm", "obj_raw"])
        .filter(F.col("pred1") < F.col("pred2"))
        .groupBy("pred1", "pred2")
        .agg(F.count("*").alias("shared"))
    )
    s1 = sizes.select(F.col("pred_raw").alias("pred1"), F.col("n_pairs").alias("n1"))
    s2 = sizes.select(F.col("pred_raw").alias("pred2"), F.col("n_pairs").alias("n2"))
    return (
        shared.join(F.broadcast(s1), "pred1")
        .join(F.broadcast(s2), "pred2")
        .withColumn(
            "jaccard",
            F.round(F.col("shared") / (F.col("n1") + F.col("n2") - F.col("shared")), 4),
        )
        .withColumn(
            "containment",
            F.round(F.col("shared") / F.least(F.col("n1"), F.col("n2")), 4),
        )
        .select("pred1", "pred2", "shared", "n1", "n2", "jaccard", "containment")
    )


def pred_merge_map(cells: DataFrame, tau: float = 0.7, min_shared: int = 2) -> DataFrame:
    """W4 — decide merges and emit pred → canonical_pred.

    A pair merges when containment (shared / smaller pair-set) ≥ τ and
    shared evidence ≥ min_shared. Containment rather than jaccard because a
    rarely-emitted synonym's evidence is a *subset* of its partner's
    (threshold kin of ``data.duplicates.instance*``,
    ``searchJoins.conf:79-97``).
    Canonical representative = the predicate with more evidence (tie →
    lexicographic min) — the reference's greedy marriage keeps the
    higher-scoring column (``Matcher.java:515-713``); synonym clusters here
    are star-shaped so one greedy pass suffices.

    Output has one row per predicate (identity rows included) so downstream
    can plain-join on pred_raw.
    """
    ev = evidence(cells)
    scores = pred_pair_scores(cells, ev).filter(
        (F.col("containment") >= tau) & (F.col("shared") >= min_shared)
    )
    edges = scores.select(
        "pred1",
        "pred2",
        F.when(
            (F.col("n1") > F.col("n2"))
            | ((F.col("n1") == F.col("n2")) & (F.col("pred1") < F.col("pred2"))),
            F.col("pred1"),
        )
        .otherwise(F.col("pred2"))
        .alias("winner"),
    )
    mapping = (
        edges.select(
            F.when(F.col("winner") == F.col("pred1"), F.col("pred2"))
            .otherwise(F.col("pred1"))
            .alias("pred_raw"),
            F.col("winner").alias("pred_canon"),
        )
        # a loser matched to several winners → deterministic min winner
        .groupBy("pred_raw")
        .agg(F.min("pred_canon").alias("pred_canon"))
    )
    # derive from the evidence (reused exchange) — not another full-corpus pass
    all_preds = ev.select("pred_raw").distinct()
    return (
        all_preds.join(mapping, "pred_raw", "left")
        .select(
            "pred_raw",
            F.coalesce("pred_canon", "pred_raw").alias("pred_canon"),
        )
    )


# ---------------------------------------------------------------------------
# A3 full form — typed instance-based column scoring
# ---------------------------------------------------------------------------

def _typed_score(dtype, v1, v2, range_days):
    """Per-dtype value kernel, reference-exact including its quirks
    (``InstanceBasedComparer.compareColumnValues:496-625``):

    * default = exact string equality 0/1 (line 518);
    * numeric/unit/coordinate: strip ``[^0-9.,-]`` then Double.valueOf —
      grouping COMMAS make the parse throw, so comma-formatted numbers fall
      back to exact 0/1 (the comma quirk); otherwise 1.0 if equal else
      0.5·min(|a|,|b|)/max(|a|,|b|);
    * date: score = |days diff| / range — the reference computes a
      DISTANCE where the cited paper wants similarity (inverted-kernel
      bug, lines 566-588) — equal dates score 0; replicated, not fixed.
      range = the column pair's global min-max day span; range 0 → exact
      fallback (the Java NaN is clamped; documented deviation);
    * bool: case-insensitive true/false parse, 1.0 when both parse equal
      (lines 600-618), else the exact default;
    * string: Jaccard over combined 2-4-char-grams when both values ≤ 100
      chars (lines 550-560), else exact default;
    * link/list: exact (line 594; 'list' is this engine's brace literal —
      not in the reference enum, takes the default branch).
    """
    from mannheimsearchjoinsengine_spark.functions.similarity import string_sim_24

    exact = F.when(v1 == v2, F.lit(1.0)).otherwise(F.lit(0.0))
    d1 = F.regexp_replace(v1, r"[^0-9.,\-]", "").try_cast("double")
    d2 = F.regexp_replace(v2, r"[^0-9.,\-]", "").try_cast("double")
    num = F.when(
        d1.isNotNull() & d2.isNotNull(),
        F.when(d1 == d2, F.lit(1.0)).otherwise(
            0.5 * F.least(F.abs(d1), F.abs(d2)) / F.greatest(F.abs(d1), F.abs(d2))
        ),
    ).otherwise(exact)
    from mannheimsearchjoinsengine_spark.operators.resolve import parse_any_date

    dd1, dd2 = parse_any_date(v1), parse_any_date(v2)
    date = F.when(
        dd1.isNotNull() & dd2.isNotNull() & (range_days > 0),
        F.abs(F.datediff(dd1, dd2)) / range_days,
    ).otherwise(exact)
    t = F.lower(v1)
    boolean = F.when(
        t.isin("true", "false") & (t == F.lower(v2)), F.lit(1.0)
    ).otherwise(exact)
    string = F.when(
        (F.length(v1) <= 100) & (F.length(v2) <= 100), string_sim_24(v1, v2)
    ).otherwise(exact)
    return (
        F.when(dtype.isin("numeric", "unit", "coordinate"), num)
        .when(dtype == "date", date)
        .when(dtype == "bool", boolean)
        .when(dtype == "string", string)
        .otherwise(exact)
    )


def typed_pair_scores(cells: DataFrame) -> DataFrame:
    """A3 full form — per same-dtype predicate pair, the reference's
    ColumnScoreValue accumulators over subject-aligned representative
    values (``InstanceBasedColumnComparer.compareColumns:76-206``,
    ``model/schema/ColumnScoreValue.java:80-120``):

    * row universe = subjects asserting either predicate (both-null rows
      skipped, lines 168-171);
    * one-null rows add complement AND a 0.0 score that COUNTS toward the
      average (``AddComplement`` + ``Add(0.0)``, lines 185-188 — replicated);
    * n_exact = comparisons scoring exactly 1.0 (``Add``/``addExactMatch``).

    Long-format mapping: the reference's rowId ≙ subject; a cell holds ONE
    value, so each (pred, subj)'s representative value is its FIRST
    assertion (min ts, tie obj asc). Different-dtype pairs return no score
    (compareColumns line 139) and are not emitted.

    Scale shape: the rep table is (schema × entity)-sized; the alignment
    self-join keys on subj_norm with fan-out bounded by #predicates per
    subject; pair stats aggregate to schema² rows.
    """
    wr = Window.partitionBy("pred_raw", "subj_norm").orderBy(
        F.asc("ts"), F.asc("obj_raw")
    )
    rep = (
        cells.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") == 1)
        .join(F.broadcast(pred_major_dtype(cells)), "pred_raw")
        .select("pred_raw", "subj_norm", "obj_raw", "dtype_major")
        .localCheckpoint()
    )
    sizes = rep.groupBy("pred_raw", "dtype_major").agg(
        F.count("*").alias("n_subj"),
        F.min(F.when(F.col("dtype_major") == "date",
                     _parse_date_col(F.col("obj_raw")))).alias("dmin"),
        F.max(F.when(F.col("dtype_major") == "date",
                     _parse_date_col(F.col("obj_raw")))).alias("dmax"),
    )
    s1 = sizes.select(
        F.col("pred_raw").alias("pred1"), F.col("dtype_major").alias("dtype"),
        F.col("n_subj").alias("n1"), F.col("dmin").alias("dmin1"),
        F.col("dmax").alias("dmax1"),
    )
    s2 = sizes.select(
        F.col("pred_raw").alias("pred2"), F.col("dtype_major").alias("dtype"),
        F.col("n_subj").alias("n2"), F.col("dmin").alias("dmin2"),
        F.col("dmax").alias("dmax2"),
    )
    pairs = (
        s1.join(s2, "dtype")
        .filter(F.col("pred1") < F.col("pred2"))
        .select(
            "pred1", "pred2", "dtype", "n1", "n2",
            F.datediff(
                F.greatest("dmax1", "dmax2"), F.least("dmin1", "dmin2")
            ).alias("range_days"),
        )
    )
    r1 = rep.select(
        F.col("pred_raw").alias("pred1"), "subj_norm", F.col("obj_raw").alias("v1")
    )
    r2 = rep.select(
        F.col("pred_raw").alias("pred2"), "subj_norm", F.col("obj_raw").alias("v2")
    )
    aligned = (
        r1.join(r2, "subj_norm")
        .filter(F.col("pred1") < F.col("pred2"))
        .join(F.broadcast(pairs), ["pred1", "pred2"])
    )
    score = _typed_score(F.col("dtype"), F.col("v1"), F.col("v2"), F.col("range_days"))
    both = aligned.select("pred1", "pred2", score.alias("s")).groupBy(
        "pred1", "pred2"
    ).agg(
        F.count("*").alias("n_both"),
        F.sum("s").alias("sum_s"),
        F.sum(F.when(F.col("s") == 1.0, 1).otherwise(0)).alias("n_exact"),
    )
    nb = F.coalesce("n_both", F.lit(0))
    n_rows = F.col("n1") + F.col("n2") - nb
    raw_sum = F.coalesce("sum_s", F.lit(0.0))
    # average = sum / count where count includes the zero-scored one-null
    # rows (= n_rows); count==0 → 0 (ColumnScoreValue.getAverage:96-104)
    return pairs.join(both, ["pred1", "pred2"], "left").select(
        "pred1", "pred2", "dtype", "n1", "n2",
        nb.alias("n_both"),
        n_rows.alias("n_rows"),
        (F.col("n1") + F.col("n2") - 2 * nb).alias("n_complement"),
        F.round(raw_sum, 4).alias("sum_sim"),
        F.coalesce("n_exact", F.lit(0)).alias("n_exact"),
        F.when(n_rows > 0, F.round(raw_sum / n_rows, 4))
        .otherwise(F.lit(0.0))
        .alias("avg_sim"),
    )


def _parse_date_col(col):
    from mannheimsearchjoinsengine_spark.operators.resolve import parse_any_date

    return parse_any_date(col)


# ---------------------------------------------------------------------------
# W4 full form — two-sided greedy marriage
# ---------------------------------------------------------------------------

def greedy_marriage(
    edges: DataFrame,
    left: str = "pred1",
    right: str = "pred2",
    score: str = "avg_sim",
    max_rounds: int = 32,
    driver_threshold: int = 10_000,
    size_hint: int | None = None,
) -> DataFrame:
    """Greedy 1-1 matching by descending score — the distributed, order-free
    form of the reference's sequential decide loop
    (``InstanceBasedComparer.decideObjectMatching:130-347``: best unmatched
    partner first, then DISCARD a match when the counterpart has a
    better-scoring alternative; ``Matcher.decideCombinedObjectMatching:
    515-713`` is the same shape). Each round accepts the edges that are
    rank-1 for BOTH endpoints under (score desc, pred1 asc, pred2 asc) —
    locally dominant edges — then removes everything touching a matched
    node; iterating to fixpoint reproduces sequential greedy matching under
    a deterministic total order (HashMap iteration order in the reference
    is not deterministic; this is the documented stand-in).

    Rounds are O(log E) expected on random scores, but a strictly
    descending-score CHAIN accepts only every other remaining edge per
    round (~E/2 rounds worst case) — hence max_rounds=32, enough for any
    chain the schema²-bounded edge list can realistically produce, and each
    round is a broadcast-scale job over a tiny list. Equal-score chains
    drain in ONE round (the deterministic (score, pred1, pred2) tie-break
    makes every odd edge locally dominant — pinned by pytest). Raises on
    round exhaustion rather than returning a partial matching; the SQL
    oracle twin (driver_contract.marriage_rounds_body) raises via a
    per-row error() sentinel the same way.
    """
    cols = [left, right, score]
    e = edges.select(*cols).localCheckpoint()
    # Fast path: the edge list is predicate-schema²-bounded metadata (tens
    # to hundreds of rows at ANY corpus scale — predicates don't grow with
    # rows). Sequential greedy on the driver over such a list is one job +
    # one collect instead of ~3 jobs × rounds, a pure serial-floor cut; the
    # round-based distributed path below computes the IDENTICAL matching
    # (locally-dominant-edge fixpoint ≡ sequential greedy under the same
    # total order — pinned by the chain pytests, which run both paths) and
    # remains the shape for a hypothetical super-schema edge list.
    # size_hint lets a caller that already knows the edge count (e.g. from a
    # ledger row or an upstream agg) skip the extra count() job
    n_edges = size_hint if size_hint is not None else (
        e.count() if driver_threshold else None
    )
    if driver_threshold and n_edges is not None and n_edges <= driver_threshold:
        rows = sorted(
            e.collect(), key=lambda r: (-r[score], r[left], r[right])
        )
        matched: set = set()
        pairs = []
        for r in rows:
            if r[left] not in matched and r[right] not in matched:
                matched.update((r[left], r[right]))
                pairs.append((r[left], r[right], r[score]))
        # explicit schema: Row values round-trip through Python, and an
        # inferred schema could re-type score/pred columns, making the two
        # paths non-interchangeable for downstream unions (ADVICE r03)
        return edges.sparkSession.createDataFrame(pairs, schema=e.schema)
    accepted = None
    for _ in range(max_rounds):
        if e.isEmpty():
            break
        sym = e.select(F.col(left).alias("node"), *cols).union(
            e.select(F.col(right).alias("node"), *cols)
        )
        w = Window.partitionBy("node").orderBy(
            F.desc(score), F.asc(left), F.asc(right)
        )
        winners = (
            sym.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .groupBy(*cols)
            .agg(F.count("*").alias("n_ends"))
            .filter(F.col("n_ends") == 2)  # rank-1 for BOTH endpoints
            .select(*cols)
            .localCheckpoint()
        )
        accepted = winners if accepted is None else accepted.union(winners)
        matched = winners.select(F.col(left).alias("node")).union(
            winners.select(F.col(right).alias("node"))
        )
        e = (
            e.join(matched.withColumnRenamed("node", left), left, "left_anti")
            .join(matched.withColumnRenamed("node", right), right, "left_anti")
            .select(*cols)
            .localCheckpoint()
        )
    else:
        if not e.isEmpty():
            raise RuntimeError(
                f"greedy_marriage did not drain the edge list in {max_rounds} rounds"
            )
    if accepted is None:
        return edges.select(left, right, score).limit(0)
    return accepted


STRING_TAU = 0.8   # data.duplicates.limit.instance.string, searchJoins.conf:81
NUMERIC_TAU = 0.4  # data.duplicates.limit.instance.numeric, searchJoins.conf:82


def typed_merge_map(
    cells: DataFrame, string_tau: float = STRING_TAU, numeric_tau: float = NUMERIC_TAU
) -> DataFrame:
    """W4 on A3: threshold typed pair scores per dtype (string vs non-string,
    ``decideObjectMatching``'s stringThreshold/numericThreshold), marry
    greedily, map each married loser onto its winner (more evidence, tie →
    lexicographic min — the reference keeps the higher-scoring column).
    Identity rows included so downstream can plain-join on pred_raw."""
    scores = typed_pair_scores(cells).localCheckpoint()
    tau = F.when(F.col("dtype") == "string", string_tau).otherwise(numeric_tau)
    edges = scores.filter(F.col("avg_sim") >= tau)
    married = greedy_marriage(edges).join(
        scores.select("pred1", "pred2", "n1", "n2"), ["pred1", "pred2"]
    )
    winner = F.when(
        (F.col("n1") > F.col("n2"))
        | ((F.col("n1") == F.col("n2")) & (F.col("pred1") < F.col("pred2"))),
        F.col("pred1"),
    ).otherwise(F.col("pred2"))
    mapping = married.select(
        F.when(winner == F.col("pred1"), F.col("pred2"))
        .otherwise(F.col("pred1"))
        .alias("pred_raw"),
        winner.alias("pred_canon"),
    )
    all_preds = cells.select("pred_raw").distinct()
    return all_preds.join(mapping, "pred_raw", "left").select(
        "pred_raw", F.coalesce("pred_canon", "pred_raw").alias("pred_canon")
    )


def label_pair_scores(cells: DataFrame, max_lev: int = 3) -> DataFrame:
    """F2/W4 — label-based duplicate detection: predicate-name similarity by
    Levenshtein distance (``schemamatching/label/LabelBasedComparer.
    matchTwoLists:326-336``; the WordNet layers F7/F8 are optional plug-ins
    the reference ships disabled, ``searchJoins.conf:67-69``).

    sim = 1 − lev/max(len) (the classic normalized edit similarity). The
    candidate space is the distinct-predicate set — schema-sized, i.e. tiny
    versus the data, so the pair generation is a broadcast self-join; at a
    genuinely huge schema the prefix-bucket blocking used for labels in
    fuzzy.py applies verbatim.
    """
    preds = cells.select("pred_raw").distinct()
    p1 = preds.select(F.col("pred_raw").alias("pred1"))
    p2 = preds.select(F.col("pred_raw").alias("pred2"))
    pairs = p1.join(F.broadcast(p2), F.col("pred1") < F.col("pred2"))
    lev = F.levenshtein(F.col("pred1"), F.col("pred2"))
    return (
        pairs.withColumn("lev", lev)
        .filter(F.col("lev") <= max_lev)
        .withColumn(
            "label_sim",
            F.round(
                1 - F.col("lev") / F.greatest(F.length("pred1"), F.length("pred2")), 4
            ),
        )
    )
