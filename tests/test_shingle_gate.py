"""The shingle fan-out gate (``operators/text.py`` ``with_shingles``)
reads parquet footers to decide whether to repartition before
shingling. It must not assume every file source is parquet, and it
must open the files ``inputFiles()`` names even when their URIs are
percent-encoded: MinHash-LSH pairs over a JSONL copy and over a
parquet directory whose name contains a space must equal the pairs
over the plain parquet copy."""

import json
import random
import shutil

from oracle_cassandra_migrator_spark.operators.dedup import minhash_lsh_pairs

SCHEMA = "doc_id BIGINT, text STRING"


def _corpus():
    rng = random.Random(11)
    vocab = [f"w{i}" for i in range(300)]
    docs = []
    for i in range(30):
        words = [rng.choice(vocab) for _ in range(30)]
        docs.append((2 * i, " ".join(words)))
        # a near-duplicate: two words replaced
        for pos in rng.sample(range(30), 2):
            words[pos] = rng.choice(vocab)
        docs.append((2 * i + 1, " ".join(words)))
    return docs


def _pairs(df):
    return sorted(tuple(r) for r in minhash_lsh_pairs(
        df, "text", "doc_id", threshold=0.5).collect())


def test_jsonl_and_spaced_parquet_pairs_equal_parquet(spark, tmp_path):
    docs = _corpus()
    plain = str(tmp_path / "plain")
    spaced = str(tmp_path / "with space")
    jsonl = tmp_path / "docs.jsonl"
    spark.createDataFrame(docs, SCHEMA).coalesce(1).write.parquet(plain)
    shutil.copytree(plain, spaced)
    jsonl.write_text("".join(
        json.dumps({"doc_id": d, "text": t}) + "\n" for d, t in docs))
    ref = _pairs(spark.read.parquet(plain))
    assert len(ref) >= 20  # the planted near-duplicates are found
    assert _pairs(spark.read.schema(SCHEMA).json(str(jsonl))) == ref
    assert _pairs(spark.read.parquet(spaced)) == ref
