"""python -m lsearch_spark — the CLI maps every engine surface (build /
search / phrase / batch / append / compact) onto the library, in-process
(get_spark's getOrCreate reuses the test session; stop is no-op'd so the
session-scoped fixture survives)."""

import pytest
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from lsearch_spark.corpus import pages_df


@pytest.fixture(scope="module")
def cli_env(spark, tmp_path_factory, request):
    base = tmp_path_factory.mktemp("cli")
    src_even = str(base / "pages_even.parquet")
    src_odd = str(base / "pages_odd.parquet")
    pages = pages_df(spark, 200)
    pages.filter(F.col("doc_id") % 2 == 0).write.parquet(src_even)
    pages.filter(F.col("doc_id") % 2 == 1).write.parquet(src_odd)
    # keep the shared session alive across main()'s spark.stop()
    orig_stop = SparkSession.stop
    SparkSession.stop = lambda self: None
    request.addfinalizer(lambda: setattr(SparkSession, "stop", orig_stop))
    return {"wh": str(base / "wh"), "even": src_even, "odd": src_odd}


def _run(argv):
    from lsearch_spark.__main__ import main

    assert main(argv) == 0


def test_cli_build_and_search(cli_env, capsys):
    _run(["build", "--input", cli_env["even"], "--warehouse", cli_env["wh"],
          "--buckets", "4", "--block-size", "32", "--hot-df", "64", "--salts", "2"])
    assert "index built" in capsys.readouterr().out
    _run(["search", "--warehouse", cli_env["wh"], "--query", "biology -chemistry",
          "-k", "5", "--stats", "--strats", "--within", "lang = 'en'"])
    out = capsys.readouterr().out
    assert "WAND" in out and "-- stats:" in out
    assert "within: \"lang = 'en'\"" in out


def test_cli_phrase_and_batch(cli_env, capsys):
    _run(["phrase", "--warehouse", cli_env["wh"], "--query", "the", "-k", "3"])
    _run(["phrase", "--warehouse", cli_env["wh"], "--query", "the data",
          "-k", "3", "--slop", "2"])
    assert "tf=" in capsys.readouterr().out
    _run(["batch", "--warehouse", cli_env["wh"], "-q", "biology", "-q", "the ~of", "-k", "3"])
    out = capsys.readouterr().out
    assert "'biology'" in out and "'the ~of'" in out


def test_cli_append_and_compact(spark, cli_env, capsys):
    from lsearch_spark.query import invalidate_cache, search

    _run(["append", "--input", cli_env["odd"], "--warehouse", cli_env["wh"]])
    assert "segment appended" in capsys.readouterr().out
    _run(["compact", "--warehouse", cli_env["wh"], "--dest", cli_env["wh"] + "2"])
    assert "compacted into" in capsys.readouterr().out
    invalidate_cache()
    a = [tuple(r) for r in search(spark, cli_env["wh"], "biology", k=5).collect()]
    b = [tuple(r) for r in search(spark, cli_env["wh"] + "2", "biology", k=5).collect()]
    assert a == b and len(a) == 5


def test_cli_curate(spark, cli_env, capsys, tmp_path):
    from lsearch_spark.pipeline import CurationRules, curate

    src = str(tmp_path / "docs.parquet")
    out = str(tmp_path / "kept.parquet")
    docs = (
        spark.read.parquet(cli_env["even"])
        .selectExpr("doc_id", "text", "lang", "'s' AS source")
    )
    docs.write.parquet(src)
    _run(["curate", "--input", src, "--output", out,
          "--min-tokens", "3", "--cap-per-source", "40", "--report"])
    printed = capsys.readouterr().out
    assert "curated corpus written" in printed and "input:" in printed and "kept:" in printed
    got = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    want = sorted(
        r["doc_id"]
        for r in curate(docs, CurationRules(min_tokens=3, cap_per_source=40)).collect()
    )
    assert got == want and 0 < len(got) <= 40


def test_cli_sample_and_rewrite_strats(cli_env, capsys, tmp_path, spark):
    from lsearch_spark.functions.webstats import group_stats, plan_mixture, stratified_sample
    from lsearch_spark.query import plan_summary

    src = str(tmp_path / "docs2.parquet")
    out = str(tmp_path / "sampled.parquet")
    docs = (
        spark.read.parquet(cli_env["even"])
        .selectExpr("doc_id", "text", "CASE WHEN doc_id % 2 = 0 THEN 'a' ELSE 'b' END AS source")
    )
    docs.write.parquet(src)
    _run(["sample", "--input", src, "--output", out,
          "--budget", "1500", "--weights", "a=3,b=1"])
    printed = capsys.readouterr().out
    assert "sampled corpus written" in printed and "a: rate=" in printed
    stats = group_stats(docs, "source", key_name="source")
    rates = plan_mixture(stats, {"a": 3.0, "b": 1.0}, 1500)
    want = sorted(r["doc_id"] for r in stratified_sample(docs, rates).collect())
    got = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    assert got == want and got
    # plan_summary surfaces query rewrites
    s = plan_summary(spark, cli_env["wh"], "bio*")
    assert s.startswith("rewrite: 'bio*' ->") and "+biology:" in s


def test_cli_stats(cli_env, capsys):
    _run(["stats", "--warehouse", cli_env["wh"]])
    out = capsys.readouterr().out
    assert "corpus: n_docs=" in out and "vocabulary:" in out
    assert "postings kind=0" in out and "storage postings:" in out
    assert "stage extract:" in out and "stage blocks:" in out
