"""The DuckDB oracles themselves: lint-clean, and their shared SQL
fragments equal to the Spark expressions they stand in for."""

from __future__ import annotations

import sys
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))

from oracle_lint import lint_registry  # noqa: E402

from square_etl_spark.operators.dedup import word_hashes  # noqa: E402
from square_etl_spark.queries import _WORDS, _md5_int  # noqa: E402

#: leading, trailing and repeated whitespace (spaces, tabs, newlines),
#: non-ASCII words, whitespace only, and the empty string
_TEXTS = [
    "  leading and trailing  ",
    "repeated   spaces\t\ttabs\n\nand newlines",
    "café naïve — Straße 東京 😀",
    "one",
    " \t\n ",
    "",
]


def test_every_oracle_guards_its_denominators():
    assert lint_registry() == {}


def test_sql_word_hashes_equal_the_portable_spark_word_hashes(spark):
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id INTEGER, text VARCHAR)")
    con.executemany(
        "INSERT INTO documents VALUES (?, ?)", list(enumerate(_TEXTS))
    )
    sql = dict(
        con.execute(
            f"SELECT doc_id, list_transform({_WORDS}, x -> {_md5_int('x')})"
            " FROM documents"
        ).fetchall()
    )
    df = spark.createDataFrame(list(enumerate(_TEXTS)), "doc_id int, text string")
    engine = {
        r.doc_id: r.hw
        for r in df.select(
            "doc_id", word_hashes("text", portable=True).alias("hw")
        ).collect()
    }
    assert engine == sql
    assert [len(engine[i]) for i in range(len(_TEXTS))] == [3, 5, 6, 1, 0, 0]
