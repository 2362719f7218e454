"""Dedup-upsert operators (SURVEY.md §2.4 J4/J5, §2.1 K4/K5) and
deterministic id allocation.

The reference matches incoming variants against the store on the 6-key
(start_pos, end_pos, chromosome, ref_nuc, variant_type, var_nuc) with
case-insensitive allele compare (VariantLoad3.java:519-534), reusing the
existing RGD_ID or drawing a fresh one from an Oracle sequence (:550).
Spark-first: a left join on the normalized key + window-based id allocation
(deterministic across runs — the correctness comparisons are on natural
keys, never allocated ids).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .windows import bucketed_row_number

VARIANT_6KEY = [
    "start_pos",
    "end_pos",
    "chromosome",
    "ref_nuc",
    "variant_type",
    "var_nuc",
]
# alleles compare case-insensitively (VariantLoad3.java:526-533)
_CASE_INSENSITIVE = {"ref_nuc", "var_nuc"}


def dedup_upsert(incoming: DataFrame, existing: DataFrame | None) -> DataFrame:
    """Assign ``rgd_id``: reuse the store's id on a 6-key match, else
    allocate a new deterministic id ``offset + rank``, ranked by
    (chromosome, 6-key); ``id_source`` says which ('reused' | 'new').

    This is the only id allocator.  The offset is max(store id) + 1 — the
    Oracle-sequence analog — so an empty store, whose max is NULL, and
    ``existing=None`` (no store: no join, no job) both allocate from 1.
    Null-safe equality (``eqNullSafe``) mirrors the reference's
    null-tolerant compare in the ClinVar variant
    (VariantRatLoaderFromDb.java:220-250).
    """
    if existing is None:
        return _fresh_ids(incoming, 1)
    id_offset = (existing.agg(F.max("rgd_id")).collect()[0][0] or 0) + 1

    e = existing.select(
        *[F.col(k).alias(f"__e_{k}") for k in VARIANT_6KEY],
        F.col("rgd_id").alias("__existing_id"),
    ).dropDuplicates([f"__e_{k}" for k in VARIANT_6KEY])

    cond = None
    for k in VARIANT_6KEY:
        l, r = F.col(k), F.col(f"__e_{k}")
        if k in _CASE_INSENSITIVE:
            l, r = F.upper(l), F.upper(r)
        c = l.eqNullSafe(r)
        cond = c if cond is None else (cond & c)

    # lazy localCheckpoint, not persist(): both id branches reuse the join
    # result, and the checkpoint's RDD blocks are reference-tracked — the
    # ContextCleaner reclaims them when this DataFrame is GC'd, so a
    # long-lived driver session never accumulates leaked cache entries
    # (persist() pins a CacheManager entry until an explicit unpersist the
    # lazy API has no good place for).  Tradeoff: checkpointed partitions
    # are not recomputable on executor loss; the load plan materializes its
    # outputs immediately after, keeping the exposure window small.
    matched = incoming.join(e, cond, "left").localCheckpoint(eager=False)
    reused = matched.filter(F.col("__existing_id").isNotNull()).withColumn(
        "rgd_id", F.col("__existing_id").cast("long")
    ).withColumn("id_source", F.lit("reused"))
    fresh = _fresh_ids(matched.filter(F.col("__existing_id").isNull()), id_offset)
    out = reused.unionByName(fresh)
    return out.drop("__existing_id", *[f"__e_{k}" for k in VARIANT_6KEY])


def _fresh_ids(rows: DataFrame, id_offset: int) -> DataFrame:
    """New ids from ``id_offset``: a deterministic chromosome-major rank —
    the per-chromosome row_number + tiny cumulative-offset table replaces a
    global sort (ids stay arbitrary-but-deterministic; correctness always
    compares natural keys)."""
    ranked = bucketed_row_number(rows, order_keys=VARIANT_6KEY, bucket="chromosome")
    return (
        ranked.withColumn(
            "rgd_id", (F.lit(id_offset) + F.col("__rank") - 1).cast("long")
        )
        .withColumn("id_source", F.lit("new"))
        .drop("__rank")
    )


def insert_if_not_exists(
    incoming: DataFrame, existing: DataFrame, keys: list[str]
) -> DataFrame:
    """K4: rows of ``incoming`` whose key is absent from ``existing``
    (INSERT ... WHERE NOT EXISTS -> left_anti)."""
    return incoming.join(existing.select(*keys).dropDuplicates(keys), keys, "left_anti")


def merge_update(
    target: DataFrame,
    updates: DataFrame,
    keys: list[str],
    set_cols: list[str],
) -> DataFrame:
    """K5: batched UPDATE as a join + column overwrite (plain-Spark MERGE
    WHEN MATCHED).  Update rows must be unique per key."""
    u = updates.select(
        *keys, *[F.col(c).alias(f"__u_{c}") for c in set_cols]
    ).dropDuplicates(keys)
    joined = target.join(u, keys, "left")
    out = joined
    for c in set_cols:
        out = out.withColumn(c, F.coalesce(F.col(f"__u_{c}"), F.col(c)))
    return out.drop(*[f"__u_{c}" for c in set_cols])


def merge_source_col(name: str):
    """Reference a SOURCE column inside ``merge``'s ``delete_condition``
    (target columns are referenced by their plain names)."""
    return F.col(f"__s_{name}")


def merge(
    target: DataFrame,
    source: DataFrame,
    keys: list[str],
    update_cols: list[str] | None = None,
    delete_condition=None,
    insert: bool = True,
) -> DataFrame:
    """Full MERGE semantics — Delta-style ``MERGE INTO`` expressed as ONE
    full-outer join + conditional projection, no union and no second
    shuffle:

    * WHEN MATCHED AND ``delete_condition`` THEN DELETE
    * WHEN MATCHED THEN UPDATE SET ``update_cols`` from the source row
    * WHEN NOT MATCHED [BY TARGET] THEN INSERT (when ``insert``)
    * WHEN NOT MATCHED BY SOURCE: row kept unchanged

    Unites K4 (insert-if-not-exists, VariantLoad3's anti-join) and K5
    (batched UPDATE, UpdateVariantStatus.java:50-65) in a single pass:
    separately they cost an anti join plus a left join — two shuffles on
    the same key; here both arms ride one join whose sides co-partition.

    ``source`` rows must be unique per key and carry every target column
    needed for inserts plus the ``update_cols``.  ``delete_condition`` is
    a Column over the joined row: target columns by name, source columns
    via ``merge_source_col`` — evaluated only for matched pairs.
    """
    update_cols = update_cols or []
    tcols = target.columns
    s = source.select(
        *[F.col(k).alias(f"__sk_{k}") for k in keys],
        *[
            F.col(c).alias(f"__s_{c}")
            for c in source.columns
            if c not in keys
        ],
        F.lit(True).alias("__s_present"),
    ).dropDuplicates([f"__sk_{k}" for k in keys])
    t = target.withColumn("__t_present", F.lit(True))
    cond = None
    for k in keys:
        c = F.col(k).eqNullSafe(F.col(f"__sk_{k}"))
        cond = c if cond is None else (cond & c)
    j = t.join(s, cond, "full_outer")
    matched = F.col("__t_present").isNotNull() & F.col(
        "__s_present"
    ).isNotNull()
    t_only = F.col("__s_present").isNull()
    if delete_condition is not None:
        j = j.filter(
            ~(matched & F.coalesce(delete_condition, F.lit(False)))
        )
    if not insert:
        j = j.filter(F.col("__t_present").isNotNull())
    out_cols = []
    for c in tcols:
        if c in keys:
            # key survives from whichever side is present
            out_cols.append(
                F.coalesce(F.col(c), F.col(f"__sk_{c}")).alias(c)
            )
        elif c in update_cols:
            # matched -> source value; insert -> source value; else target
            out_cols.append(
                F.when(t_only, F.col(c))
                .otherwise(F.col(f"__s_{c}"))
                .alias(c)
            )
        else:
            src = (
                F.col(f"__s_{c}")
                if f"__s_{c}" in j.columns
                else F.lit(None).cast(dict(target.dtypes)[c])
            )
            out_cols.append(
                F.when(F.col("__t_present").isNotNull(), F.col(c))
                .otherwise(src)
                .alias(c)
            )
    return j.select(*out_cols)
