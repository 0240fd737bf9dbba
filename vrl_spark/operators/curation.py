"""One-call training-corpus curation: the capstone composition of the
dedup / quality / assembly operators into the pass a 100 TB pipeline
actually runs —

    raw docs
      -> token-count bounds + repetition filter   (quality)
      -> minhash-LSH pairs -> connected components
         -> one survivor per near-dup cluster      (dedup)
      -> stable hash split (train/val/test)        (assignment)
      -> greedy token-budget packing per split     (assembly)
      -> per-document fate: the stage that dropped it, or 'kept'

Every stage is an already-oracle-verified operator; the composition
itself is oracle-checked end-to-end by the ``dataset_curation``
registry query. Scale properties are inherited: banded equi-joins for
pairs, O(log d) label propagation for clusters, left-semi joins so
documents never shuffle for filtering, relational n-gram counting,
and per-split packing groups.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from vrl_spark.operators import dedup, sampling, textstats


def curate_corpus(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_tokens: int = 5,
    max_tokens: int = 5000,
    max_top2gram_frac: float = 0.12,
    dedup_threshold: float = 0.7,
    engine: str = "xxh",
    split_weights: dict[str, float] | None = None,
    split_salt: str = "split",
    pack_budget: int = 512,
    minhash_kwargs: dict | None = None,
) -> DataFrame:
    """Returns (id, n_tokens, fate, split, pack_id) for EVERY input
    document (delta attribution): ``fate`` names the pipeline stage
    that dropped it ('token_bounds', 'repetition', 'near_dup' — the
    FIRST stage to drop it, in pipeline order) or 'kept'; kept rows
    carry split/pack_id, dropped rows NULL.

    ``engine`` selects the minhash hash family ('xxh' engine default;
    'md5' is what the oracle pins). Repetition thresholds beyond
    top-2gram use the repetition_filter defaults."""
    weights = split_weights or {"train": 0.8, "val": 0.1, "test": 0.1}
    mh = dict(num_hashes=16, bands=4, shingle_n=3)
    mh.update(minhash_kwargs or {})

    # token counts BEFORE any gate, so the fates can report dropped
    # documents' token mass
    with_tok = df.select(
        F.col(id_col), F.col(text_col),
        textstats.token_count(F.col(text_col)).alias("n_tokens"),
    )

    # 1) quality: token bounds, then repetition thresholds
    in_bounds = F.col("n_tokens").between(min_tokens, max_tokens)
    quality = textstats.repetition_filter(
        with_tok.where(in_bounds), text_col, id_col,
        max_top2gram_frac=max_top2gram_frac,
    )
    # the quality set feeds FIVE consumers (shingles, two verify-join
    # sides, the survivor join, split/pack): persist it or the n-gram
    # filter subplan re-executes per consumer (measured 40 s -> 12 s at
    # sf0.1). At 100 TB this is the stage output you'd checkpoint to
    # storage; MEMORY_AND_DISK spills instead of OOMing either way.
    quality = quality.persist(StorageLevel.MEMORY_AND_DISK)

    # 2) near-dup dedup: pairs -> clusters -> survivors
    pairs = dedup.minhash_dedup_pairs(
        quality, text_col, id_col, threshold=dedup_threshold,
        engine=engine, **mh,
    )
    survivors = dedup.dedup_survivor_rows(
        quality, pairs.select("id_a", "id_b"), id_col
    )

    # 3) stable split assignment
    assigned = sampling.split_table(
        survivors, id_col, weights, salt=split_salt
    )

    # 4) token-budget packing within each split
    packed = sampling.pack_documents(
        assigned.select(id_col, "n_tokens", "split"),
        budget=pack_budget, token_col="n_tokens", id_col=id_col,
        part_col=F.col("split"),
    )

    # 5) per-doc attribution: left-join stage-membership markers onto
    # the full corpus; the first NULL marker in pipeline order is the
    # dropping stage. quality is persisted, and the with_tok recompute
    # is a narrow map-side projection, so no expensive subtree runs
    # twice. Bounds membership needs NO join: it's a predicate on the
    # row's own token count.
    fate = (
        F.when(~in_bounds, "token_bounds")
        .when(F.col("_q").isNull(), "repetition")
        .when(F.col("pack_id").isNull(), "near_dup")
        .otherwise("kept")
    )
    out = (
        with_tok.select(id_col, "n_tokens")
        .join(
            quality.select(id_col).withColumn("_q", F.lit(True)),
            id_col, "left",
        )
        .join(packed.select(id_col, "split", "pack_id"), id_col, "left")
        .select(id_col, "n_tokens", fate.alias("fate"), "split", "pack_id")
    )
    # Materialize eagerly (the dedup-cluster stage above already runs
    # actions inside this call) so the quality cache can be released
    # here instead of leaking for the session's lifetime; the result is
    # a few narrow columns, so the checkpoint is small.
    out = out.localCheckpoint(eager=True)
    quality.unpersist()
    return out
