"""LocalIndexProbe reads its index once, at open: it keeps serving the
snapshot it opened across a later index rewrite, and an index with
zero postings answers every query with no rows."""

import shutil

from semantic_search_engine_spark.fixtures.webtext import generate_webtext
from semantic_search_engine_spark.functions.tokenizer import tokenize


def test_probe_serves_its_snapshot_across_rewrite(spark, tmp_path):
    """A probe opened before ``ingest_generation`` (which finalizes,
    rewriting the dictionary and postings files) must answer cache
    misses afterwards exactly as a probe on a copy of the pre-ingest
    directory does."""
    from semantic_search_engine_spark.operators.build import build_index, ingest_generation
    from semantic_search_engine_spark.operators.query import LocalIndexProbe

    d, pre = str(tmp_path / "idx"), str(tmp_path / "pre")
    docs = generate_webtext(spark, 400)
    build_index(docs, d, num_shards=2, store_positions=True)
    shutil.copytree(d, pre)
    texts = [r["text"] for r in docs.limit(20).collect()]
    queries, phrases = [], []
    for i, t in enumerate(texts):
        toks = tokenize(t)
        s = (i * 7) % max(len(toks) - 4, 1)
        queries.append(" ".join(toks[s : s + 3]))
        phrases.append(" ".join(toks[s : s + 2]))

    old = LocalIndexProbe(d)
    assert old.search(queries[0], k=10)  # in use before the rewrite
    ingest_generation(
        generate_webtext(spark, 200, start=400), d, num_shards=2, store_positions=True
    )
    snap = LocalIndexProbe(pre)
    new = LocalIndexProbe(d)
    changed = 0
    for q, p in zip(queries[1:], phrases[1:]):
        assert q not in old._cache
        got = old.search(q, k=10)
        assert got == snap.search(q, k=10), q
        assert old.search_phrase(p, k=10) == snap.search_phrase(p, k=10), p
        changed += got != new.search(q, k=10)
    assert changed > 0  # the rewrite really moved the index


def test_probe_on_index_with_zero_postings(spark, tmp_path):
    """Every doc tokenizes empty: ``finalize_index`` writes an index
    with no terms, and every probe entry point answers with no rows."""
    from semantic_search_engine_spark.operators.build import build_index
    from semantic_search_engine_spark.operators.query import LocalIndexProbe

    d = str(tmp_path / "empty")
    docs = spark.createDataFrame([("u0", "!!! ... ???")], "url string, text string")
    stats = build_index(docs, d, num_shards=1)
    assert stats["n_docs"] == 1
    probe = LocalIndexProbe(d)
    assert probe.search("alpha beta", k=10) == []
    assert probe.search("alpha", k=10, exclude="beta") == []
    assert probe.search_batch(["alpha", "beta gamma", ""], k=10) == [[], [], []]
    assert probe.search_qld("alpha beta", k=10) == []
    assert probe.search_phrase("alpha beta", k=10) == []
