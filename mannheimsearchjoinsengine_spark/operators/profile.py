"""Stage 1b — profiling: typed cells, predicate profiles, subject election.

Reference parity:
* cells ≙ ``model/IndexEntry.java:10-48`` (one row per extracted cell, long
  format — SURVEY.md §1.3).
* per-column majority type vote ≙ ``model/TableColumn.setFinalDataType``
  (``model/TableColumn.java:288-317``).
* column stats (count/distinct/avg-length/multiplicity) ≙
  ``model/TableColumn.java:242-286``.
* uniqueness rank ≙ ``TableColumn.getColumnUniqnessRank:219-240``.
* key identification ≙ ``TableProcessor/TableKeyIdentifier.java:37-176`` —
  for transcripts this becomes *subject election*: the conversation's primary
  entity is its most-mentioned normalized subject.

All native DataFrame aggs — partial aggregation map-side, one shuffle per
groupBy, no Python. Ties are broken deterministically (count desc, then
lexicographic) because the driver's oracle comparison is order-insensitive
but value-exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from mannheimsearchjoinsengine_spark.functions.typeguess import guess_type


def typed_cells(facts: DataFrame) -> DataFrame:
    """facts + per-value dtype (the engine's IndexEntry-shaped long table)."""
    return facts.withColumn("dtype", guess_type(F.col("obj_raw")))


def pred_major_dtype(cells: DataFrame) -> DataFrame:
    """Per-predicate majority dtype (P7): max count, tie → dtype asc. One
    shuffle on (pred_raw, dtype), tiny after map-side partial agg, and a
    window on pred_raw over the vote grain."""
    votes = cells.groupBy("pred_raw", "dtype").agg(F.count("*").alias("n"))
    w = Window.partitionBy("pred_raw").orderBy(F.desc("n"), F.asc("dtype"))
    return (
        votes.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("pred_raw", F.col("dtype").alias("dtype_major"))
    )


def pred_profile(cells: DataFrame) -> DataFrame:
    """Per-predicate profile: majority dtype + stats (P7 + P8)."""
    stats = cells.groupBy("pred_raw").agg(
        F.count("*").alias("n_values"),
        F.countDistinct("obj_raw").alias("n_distinct"),
        F.round(F.avg(F.length("obj_raw")), 4).alias("avg_len"),
        F.countDistinct("subj_norm").alias("n_subjects"),
    )
    return stats.join(pred_major_dtype(cells), "pred_raw")


def value_multiplicity(cells: DataFrame) -> DataFrame:
    """A1 — the reference's only hash agg: value→multiplicity per column
    (``TableColumn.addNewValue:251-286``)."""
    return cells.groupBy("pred_raw", "obj_raw").agg(F.count("*").alias("mult"))


def uniqueness_rank(cells: DataFrame) -> DataFrame:
    """P9 — singleton-fraction uniqueness per predicate
    (``TableColumn.getColumnUniqnessRank:219-240``)."""
    mult = value_multiplicity(cells)
    return mult.groupBy("pred_raw").agg(
        F.round(
            F.sum(F.when(F.col("mult") == 1, 1).otherwise(0)) / F.sum("mult"), 4
        ).alias("uniqueness")
    )


def identify_key(df: DataFrame) -> DataFrame:
    """P10/W3 — generic-table key identification, reference rules
    (``TableProcessor/TableKeyIdentifier.java:37-176``):

    1. string columns only (``TableManager.removeNonStringColumns:143-160``),
    2. eligibility: avg value length in [3, 50] (lines 100-103), null
       fraction ≤ 0.02 (``checkIfKey``, 164-176),
    3. priority to headers containing ``name``/``label`` (excluding
       ``_label``; lines 68-90), then argmax uniqueness (W3, 120-133),
    4. reject below uniqueness 0.6 (lines 141-149; conf ``key.*``).

    Returns per-column stats + ``is_key`` flag. Spark shape: one unpivot →
    one groupBy — no per-column driver loop, so a 1000-column table still
    profiles in a single job.
    """
    string_cols = [c for c, t in df.dtypes if t == "string"]
    # table row count as a broadcast 1-row aggregate — no blocking .count()
    n_rows = df.agg(F.count("*").alias("n_rows"))
    long = df.unpivot([], string_cols, "col_name", "value")
    mult = (
        long.filter(F.col("value").isNotNull())
        .groupBy("col_name", "value")
        .agg(F.count("*").alias("mult"), F.avg(F.length("value")).alias("len_"))
    )
    stats = (
        mult.groupBy("col_name")
        .agg(
            F.round(
                F.sum(F.when(F.col("mult") == 1, 1).otherwise(0)) / F.sum("mult"), 4
            ).alias("uniqueness"),
            F.round(F.sum(F.col("len_") * F.col("mult")) / F.sum("mult"), 4).alias(
                "avg_len"
            ),
            F.sum("mult").alias("_n_vals"),
        )
        .crossJoin(F.broadcast(n_rows))
        .withColumn("null_frac", F.round(1 - F.col("_n_vals") / F.col("n_rows"), 4))
        .drop("_n_vals", "n_rows")
    )
    eligible = (
        (F.col("avg_len") >= 3)
        & (F.col("avg_len") <= 50)
        & (F.col("null_frac") <= 0.02)
        & (F.col("uniqueness") >= 0.6)
    )
    priority = (
        F.lower(F.col("col_name")).contains("name")
        | (
            F.lower(F.col("col_name")).contains("label")
            & ~F.lower(F.col("col_name")).contains("_label")
        )
    ).cast("int")
    w = Window.orderBy(
        F.desc(eligible.cast("int")), F.desc(priority), F.desc("uniqueness"),
        F.asc("col_name")
    )
    return (
        stats.withColumn("eligible", eligible)
        .withColumn("rk", F.row_number().over(w))
        .withColumn("is_key", (F.col("rk") == 1) & eligible)
        .select("col_name", "uniqueness", "avg_len", "null_frac", "eligible", "is_key")
    )


def subject_election(facts: DataFrame, mentions: DataFrame) -> DataFrame:
    """P10 analog — elect each conversation's primary subject: the most
    frequent normalized subject over facts+mentions; ties → lexicographic
    min (the reference's argmax at ``TableKeyIdentifier.java:120-133`` is
    likewise a deterministic scan order).

    Skew note: `groupBy(conv_id, subj_norm)` pre-aggregates map-side, so the
    5000-turn hot conversation contributes one partial row per distinct
    subject per input partition — no hot-key blowup.
    """
    occ = facts.select("conv_id", "subj_norm").unionByName(
        mentions.select("conv_id", "subj_norm")
    )
    counts = occ.groupBy("conv_id", "subj_norm").agg(F.count("*").alias("n"))
    w = Window.partitionBy("conv_id").orderBy(F.desc("n"), F.asc("subj_norm"))
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("conv_id", F.col("subj_norm").alias("primary_subject"), F.col("n").alias("n_occurrences"))
    )
