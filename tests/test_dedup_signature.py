"""In-row MinHash signature (the streaming-dedup stateless half) must
equal the shuffle-based batch signature exactly — same shingling, same
salted-md5 family, same lexicographic min."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def test_inrow_signature_equals_batch_wide(spark):
    from shifu_spark.operators.dedup import _minhash_wide, shingles_df, with_minhash_signature

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    wide = _minhash_wide(shingles_df(docs, 3), 8)
    batch_sig = wide.select(
        "doc_id", F.concat_ws("|", *[F.col(f"mh{k}") for k in range(8)]).alias("signature")
    )
    inrow_sig = with_minhash_signature(docs, 3, 8).select("doc_id", "signature")
    diff = batch_sig.join(inrow_sig, "doc_id").filter(
        batch_sig["signature"] != inrow_sig["signature"]
    )
    assert batch_sig.count() == inrow_sig.count() > 0
    assert diff.count() == 0


def test_inrow_signature_short_doc(spark):
    """Docs shorter than the shingle width use the truncated text as the
    single shingle — identical on both paths."""
    from shifu_spark.operators.dedup import _minhash_wide, shingles_df, with_minhash_signature

    docs = spark.createDataFrame([(1, "one two"), (2, "x")], ["doc_id", "text"])
    wide = _minhash_wide(shingles_df(docs, 3), 4)
    batch_sig = {
        r["doc_id"]: "|".join(r[f"mh{k}"] for k in range(4)) for r in wide.collect()
    }
    inrow = {
        r["doc_id"]: r["signature"]
        for r in with_minhash_signature(docs, 3, 4).select("doc_id", "signature").collect()
    }
    assert batch_sig == inrow


def _edge_texts(n: int) -> list[str | None]:
    """NULL, empty and one-token text; exactly n-1 and n tokens; leading,
    trailing and doubled spaces (empty tokens); repeated n-grams."""
    return [
        None, "", "one",
        " ".join(f"t{i}" for i in range(n - 1)),
        " ".join(f"t{i}" for i in range(n)),
        " lead x y z", "x y z trail ", "dbl  space in  here", "  ",
        "x y x y x y x y", "a a a a a a a",
    ]


@pytest.mark.parametrize("n", [1, 2, 3, 5])
def test_gram_array_matches_duckdb_form_on_edge_cases(spark, n):
    """gram_array_df (and the in-row signature built on the same helper)
    against the DuckDB form the dedup oracles spell:
    list_transform(range(...), i -> array_to_string(toks[i:i+n-1], ' '))."""
    import hashlib

    import duckdb

    from shifu_spark.operators.dedup import gram_array_df, with_minhash_signature

    rows = list(enumerate(_edge_texts(n)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["sh_set"] for r in gram_array_df(docs, n).collect()}

    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    want = dict(con.execute(f"""
        SELECT doc_id, list_distinct(list_transform(
                 range(1, greatest(len(toks) - {n - 1}, 1) + 1),
                 i -> array_to_string(toks[i:i+{n - 1}], ' ')))
        FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
        WHERE toks IS NOT NULL
    """).fetchall())

    assert 0 not in got  # NULL text has no shingles
    assert {k: sorted(v) for k, v in got.items()} == {k: sorted(v) for k, v in want.items()}
    assert all(len(v) == len(set(v)) for v in got.values())

    sig = {
        r["doc_id"]: r["signature"]
        for r in with_minhash_signature(docs, n, 4).select("doc_id", "signature").collect()
    }
    want_sig = {
        k: "|".join(min(hashlib.md5(f"{h}|{s}".encode()).hexdigest() for s in v) for h in range(4))
        for k, v in want.items()
    }
    assert sig == {0: None, **want_sig}
