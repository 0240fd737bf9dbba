"""Runnable tour of the training-data operators: the dedup family,
similarity search and crypto anonymization.
Run: python examples/training_data_tour.py
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from vrl_spark.session import get_spark


def main() -> None:
    spark = get_spark("tour", master="local[4]")

    base = ("large scale web corpora need deduplication before training "
            "because repeated boilerplate skews model likelihoods badly")
    docs = spark.createDataFrame(
        [(1, base), (2, base), (3, base + " indeed"), (4, "something unrelated entirely"),
         (5, "another unique document with its own words")],
        ["doc_id", "text"],
    )

    # --- near dedup ---------------------------------------------------
    from vrl_spark.operators import dedup

    print("== minhash-LSH near-dup pairs (engine xxhash64 path) ==")
    dedup.minhash_dedup_pairs(docs, threshold=0.5, engine="xxh").show()

    print("== simhash near-dup pairs (numpy vote-fold signatures) ==")
    dedup.simhash_dedup_pairs(docs, max_distance=10).show()

    print("== pairs -> connected components -> keep/drop survivors ==")
    pairs = dedup.minhash_dedup_pairs(docs, threshold=0.5, engine="xxh")
    dedup.dedup_clusters(pairs.select("id_a", "id_b"), ids=docs).show()
    print("surviving rows:")
    dedup.dedup_survivor_rows(docs, pairs.select("id_a", "id_b")).show(truncate=False)

    # --- dataset assembly ----------------------------------------------
    from vrl_spark.operators import sampling, textstats

    print("== stable train/val/test split + token-budget packing ==")
    with_tok = docs.select(
        "doc_id", textstats.token_count(F.col("text")).alias("n_tokens")
    )
    split = sampling.split_table(
        with_tok, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}
    )
    sampling.pack_documents(split, budget=40).show()

    # --- embedding near-dup ---------------------------------------------
    from vrl_spark.operators.similarity import cosine_dedup_pairs

    emb = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.5, 0.2]), (2, [1.0, 0.01, 0.5, 0.2]),
         (3, [-1.0, 0.4, 0.0, 0.9])],
        ["vec_id", "v"],
    )
    print("== embedding-cosine near-dup (sign-bucket blocked) ==")
    cosine_dedup_pairs(emb, vec_col="v", threshold=0.99, block_bits=2).show()

    # --- anonymization (IPCrypt) + redaction ---------------------------
    from vrl_spark.functions import crypto
    from vrl_spark.functions.strings import redact_hash

    logs = spark.createDataFrame(
        [("user 1234 from 192.168.1.1",), ("user 777 from 10.2.3.4",)], ["line"]
    )
    print("== redact ids (sha2) + prefix-preserving IP encryption ==")
    logs.select(
        redact_hash(F.col("line"), [r"user \d+"], variant="SHA-256",
                    encoding="base16").alias("redacted"),
        crypto.encrypt_ip(
            F.regexp_extract("line", r"(\d+\.\d+\.\d+\.\d+)", 1),
            b"thirty-two bytes key for pfx use", "pfx",
        ).alias("ip_encrypted"),
    ).show(truncate=False)

    # --- curation: PII, boilerplate, quality rules, chunks -------------
    from vrl_spark.operators import pii, retrieval, textstats, urltools

    print("== PII scrub ==")
    pii_docs = spark.createDataFrame(
        [(1, "contact bob@example.com or call 415-555-2671 from 10.1.2.3")],
        ["doc_id", "text"],
    )
    pii.pii_scrub(pii_docs).select("scrubbed", "pii_total").show(truncate=False)

    print("== URL canonicalization + dedup ==")
    urls = spark.createDataFrame(
        [(1, "HTTP://Example.COM:80/a/?utm_source=x&id=1#top"),
         (2, "http://example.com/a?id=1")],
        ["doc_id", "url"],
    )
    urltools.url_dedup(urls).show(truncate=False)

    print("== Gopher quality rules ==")
    textstats.gopher_rules(docs).select(
        "doc_id", "n_words", "stopword_hits", "keep"
    ).show()

    print("== token-window chunking (chunk=8, overlap=2) ==")
    textstats.chunk_documents(docs, chunk_tokens=8, overlap=2).show(
        truncate=40
    )

    print("== BM25 scoring for query ['deduplication', 'training'] ==")
    retrieval.bm25_scores(docs, ["deduplication", "training"]).show()

    # --- datadog-style log search --------------------------------------
    from vrl_spark.functions.ddquery import match_datadog_query

    print("== match_datadog_query over messages ==")
    logs.select(
        "line",
        match_datadog_query("user AND 192*", message=F.col("line")).alias("hit"),
    ).show(truncate=False)

    # --- round-4 additions ----------------------------------------------
    from vrl_spark.operators.textstats import span_dedup

    print("== cross-doc duplicated-span removal (ngram=3) ==")
    span_docs = spark.createDataFrame(
        [(1, "alpha one two three tail x"),
         (2, "beta one two three tail y"),
         (3, "entirely different words here")],
        ["doc_id", "text"],
    )
    span_dedup(span_docs, ngram=3).show(truncate=False)

    spark.stop()


if __name__ == "__main__":
    main()
