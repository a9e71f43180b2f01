"""End-to-end: Spark ER pipeline ≡ pure-Python oracle (dedupe.cpp trace),
byte-identical extraction, pairwise F1 vs ground-truth family labels
(FIXTURES.md §5.5), determinism.
"""

from __future__ import annotations

import itertools
from datetime import datetime

import pandas as pd
import pytest

from yams_spark.oracle.dedupe_oracle import blocking_keys, run_oracle
from yams_spark.plans.er_pipeline import PipelineConfig, run_pipeline
from yams_spark.sources.pages import generate_pages_pdf


@pytest.fixture(scope="module")
def corpus(sf_dir):
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet", columns=["doc_id", "text", "lang"])
    return generate_pages_pdf(docs.head(120), replicate=1)


@pytest.fixture(scope="module")
def oracle_result(corpus):
    rows = corpus.to_dict("records")
    return run_oracle(rows)


@pytest.fixture(scope="module")
def pipeline_result(spark, corpus):
    pages = spark.createDataFrame(corpus[["url", "warc_ts", "html", "text", "lang"]])
    return run_pipeline(spark, pages, PipelineConfig())


def test_corpus_has_duplicate_structure(corpus) -> None:
    fam_sizes = corpus.groupby("family_id").size()
    assert (fam_sizes >= 2).sum() > 30  # plenty of true duplicate families
    assert (fam_sizes == 1).sum() > 20  # and singletons


def test_extraction_byte_identity(pipeline_result, corpus) -> None:
    sig = pipeline_result["signatures"].select("url", "extracted_text").toPandas()
    merged = sig.merge(corpus[["url", "text"]], on="url", validate="1:1")
    mismatch = merged[merged["extracted_text"] != merged["text"]]
    assert len(mismatch) == 0, mismatch.head()


def test_scored_pairs_match_oracle_exactly(pipeline_result, oracle_result) -> None:
    got = (
        pipeline_result["scored_pairs"]
        .toPandas()
        .sort_values(["url_a", "url_b"])
        .reset_index(drop=True)
    )
    want = (
        pd.DataFrame(
            [
                p
                for p in (
                    oracle_result.accepted_pairs
                )
            ]
        )
        if oracle_result.accepted_pairs
        else pd.DataFrame()
    )
    # candidate pair sets equal
    got_pairs = set(zip(got["url_a"], got["url_b"]))
    assert got_pairs == oracle_result.candidate_pairs
    # accepted pairs and their scores bit-equal
    got_acc = got[got["accepted"]]
    want_idx = {(p["url_a"], p["url_b"]): p for p in oracle_result.accepted_pairs}
    assert set(zip(got_acc["url_a"], got_acc["url_b"])) == set(want_idx)
    for r in got_acc.itertuples(index=False):
        w = want_idx[(r.url_a, r.url_b)]
        assert r.cosine == w["cosine"], (r.url_a, r.url_b)
        assert r.title_overlap == w["title_overlap"]
        assert r.path_overlap == w["path_overlap"]
        assert r.pair_score == w["pair_score"]


def _assert_clusters_equal(got: pd.DataFrame, oracle) -> None:
    want = pd.DataFrame(oracle.clusters)
    assert set(got["group_key"]) == set(want["group_key"])
    g = got.set_index("group_key").sort_index()
    w = want.set_index("group_key").sort_index()
    assert g["canonical_url"].to_dict() == w["canonical_url"].to_dict()
    assert g["member_count"].astype(int).to_dict() == w["member_count"].astype(int).to_dict()
    for k in w.index:
        assert g.loc[k, "max_pair_score"] == pytest.approx(w.loc[k, "max_pair_score"], abs=0)


def _assert_members_equal(got: pd.DataFrame, oracle) -> None:
    want = pd.DataFrame(oracle.members)
    key = ["group_key", "url"]
    g = got.sort_values(key).reset_index(drop=True)
    w = want.sort_values(key).reset_index(drop=True)
    assert len(g) == len(w)
    assert g["url"].tolist() == w["url"].tolist()
    assert g["role"].tolist() == w["role"].tolist()
    for col in ["similarity_to_canonical", "title_overlap", "path_overlap", "pair_score"]:
        gv = g[col].tolist()
        wv = w[col].tolist()
        for x, y in zip(gv, wv):
            if y is None or pd.isna(y):
                assert x is None or pd.isna(x)
            else:
                assert x == pytest.approx(y, abs=0)


def test_clusters_match_oracle(pipeline_result, oracle_result) -> None:
    _assert_clusters_equal(pipeline_result["clusters"].toPandas(), oracle_result)


def test_members_match_oracle(pipeline_result, oracle_result) -> None:
    _assert_members_equal(pipeline_result["members"].toPandas(), oracle_result)


@pytest.fixture(scope="module")
def tie_corpus(corpus):
    """The corpus with every member of each even family stamped with one
    warc_ts, so keep-newest and keep-oldest fall through to the url tie-break;
    byte-identical members already tie on size for keep-largest."""
    tied = corpus.copy()
    even = tied["family_id"] % 2 == 0
    first_ts = tied.groupby("family_id")["warc_ts"].transform("min")
    tied.loc[even, "warc_ts"] = first_ts[even]
    tied["size"] = tied["html"].map(len)
    fams = tied[tied.groupby("family_id")["url"].transform("size") >= 2].groupby("family_id")
    assert sum((f["warc_ts"] == f["warc_ts"].max()).sum() > 1 for _, f in fams) > 5
    assert sum((f["size"] == f["size"].max()).sum() > 1 for _, f in fams) > 5
    return tied


@pytest.mark.parametrize("strategy", ["keep-newest", "keep-oldest", "keep-largest"])
def test_canonical_strategies_match_oracle(
    spark, pipeline_result, tie_corpus, strategy
) -> None:
    """clusters_stage on the pipeline's signatures and accepted pairs, with
    warc_ts and size ties, publishes exactly the oracle's clusters and
    members under every canonical strategy (url asc breaks the ties)."""
    from yams_spark.operators.clustering import clusters_stage

    ts = spark.createDataFrame(tie_corpus[["url", "warc_ts"]])
    sigs = pipeline_result["signatures"].drop("warc_ts").join(ts, "url")
    accepted = pipeline_result["scored_pairs"].where("accepted")
    clusters, members = clusters_stage(sigs, accepted, strategy=strategy)
    oracle = run_oracle(tie_corpus.to_dict("records"), strategy=strategy)
    _assert_clusters_equal(clusters.toPandas(), oracle)
    _assert_members_equal(members.toPandas(), oracle)


@pytest.mark.parametrize(
    "strategy,field",
    [("keep-newest", "warc_ts"), ("keep-oldest", "warc_ts"), ("keep-largest", "size")],
)
def test_null_strategy_key_fails_loudly(spark, strategy, field) -> None:
    """A two-member component whose member lacks the strategy's key raises
    an error naming the strategy instead of publishing that page as the
    canonical (nulls sort first in a struct)."""
    from yams_spark.operators.clustering import clusters_stage

    ts = datetime(2024, 1, 1)
    sigs = spark.createDataFrame(
        [
            ("u://a", ts, 10, "h1"),
            ("u://b", None if field == "warc_ts" else ts, None if field == "size" else 20, "h2"),
        ],
        "url string, warc_ts timestamp, size long, doc_hash string",
    )
    pairs = spark.createDataFrame(
        [("u://a", "u://b", 0.99, 1.0, 1.0, 0.99)],
        "url_a string, url_b string, cosine double, title_overlap double, "
        "path_overlap double, pair_score double",
    )
    clusters, _ = clusters_stage(sigs, pairs, strategy=strategy)
    with pytest.raises(Exception, match=f"canonical strategy {strategy}: null {field}"):
        clusters.collect()


def test_pairwise_f1_on_labeled_block_pairs(pipeline_result, oracle_result, corpus) -> None:
    """F1 ≥ 0.99 on pairs sharing ≥1 blocking key, labels = family ids."""
    fam = dict(zip(corpus["url"], corpus["family_id"]))
    # predicted: same final cluster
    members = pipeline_result["members"].toPandas()
    cluster_of = dict(zip(members["url"], members["group_key"]))

    tp = fp = fn = tn = 0
    for ua, ub in sorted(oracle_result.candidate_pairs):
        is_match = fam[ua] == fam[ub]
        pred = (
            ua in cluster_of and ub in cluster_of and cluster_of[ua] == cluster_of[ub]
        )
        tp += is_match and pred
        fp += pred and not is_match
        fn += is_match and not pred
        tn += not is_match and not pred
    precision = tp / (tp + fp) if tp + fp else 1.0
    recall = tp / (tp + fn) if tp + fn else 1.0
    f1 = 2 * precision * recall / (precision + recall) if precision + recall else 0.0
    assert f1 >= 0.99, (precision, recall, f1, tp, fp, fn, tn)


def test_oracle_reproduces_family_labels(oracle_result, corpus) -> None:
    """The oracle itself (= reference algorithm) recovers family structure."""
    fam = dict(zip(corpus["url"], corpus["family_id"]))
    labels = oracle_result.labels
    # every ≥2 family fully merged
    by_fam: dict[int, list[str]] = {}
    for u, f in fam.items():
        by_fam.setdefault(f, []).append(u)
    merged = sum(
        1 for urls in by_fam.values() if len(urls) >= 2
        and len({labels[u] for u in urls}) == 1
    )
    total = sum(1 for urls in by_fam.values() if len(urls) >= 2)
    assert merged / total >= 0.97, (merged, total)


def test_in_memory_run_pins_every_table(pipeline_result) -> None:
    """Without a checkpoint_dir every returned stage table is pinned, so
    neither later stages nor the caller recompute it."""
    for name in ("signatures", "blocks", "pairs", "scored_pairs", "clusters", "members"):
        assert pipeline_result[name].is_cached, name


def test_uncheckpointed_score_has_no_histogram_observation(pipeline_result) -> None:
    """The pair_score histogram feeds only checkpointed lineage, so an
    in-memory run's scored_pairs plan carries no observation node."""
    plan = pipeline_result["scored_pairs"]._jdf.queryExecution().analyzed().toString()
    assert "CollectMetrics" not in plan


def test_pipeline_deterministic(spark, corpus, pipeline_result) -> None:
    pages = spark.createDataFrame(corpus[["url", "warc_ts", "html", "text", "lang"]])
    second = run_pipeline(spark, pages, PipelineConfig())
    a = set(pipeline_result["clusters"].toPandas()["group_key"])
    b = set(second["clusters"].toPandas()["group_key"])
    assert a == b


def _identical_pages(spark, urls: list[str]):
    """One page per url, all with the same html: one exact block and every
    candidate pair accepted."""
    shared = "identical boilerplate page body " * 20
    html = f"<html><title>Mega Page</title><body><p>{shared}</p></body></html>"
    pdf = pd.DataFrame(
        [
            {
                "url": url,
                "warc_ts": pd.Timestamp("2024-01-01") + pd.Timedelta(hours=i),
                "html": html.encode(),
                "text": None,
                "lang": "en",
            }
            for i, url in enumerate(urls)
        ]
    )
    return spark.createDataFrame(
        pdf, "url string, warc_ts timestamp, html binary, text string, lang string"
    )


def _boilerplate_pages(spark, n: int):
    """n pages with identical text, so every page lands in one
    mega-component unless it is split."""
    return _identical_pages(spark, [f"https://mega.example/p{i:03d}" for i in range(n)])


def test_levenshtein_url_on_accepted_pairs(pipeline_result) -> None:
    """levenshtein_url is the scalar edit distance of the urls on accepted
    pairs and 0 on rejected ones."""
    from yams_spark.functions.similarity import levenshtein

    rows = pipeline_result["scored_pairs"].select(
        "url_a", "url_b", "levenshtein_url", "accepted"
    ).collect()
    assert any(r["accepted"] for r in rows) and not all(r["accepted"] for r in rows)
    for r in rows:
        want = levenshtein(r["url_a"], r["url_b"]) if r["accepted"] else 0
        assert r["levenshtein_url"] == want, (r["url_a"], r["url_b"])


def test_levenshtein_url_counts_code_points(spark) -> None:
    """Non-ASCII urls: the distance counts code points (é→e, ü→u is 2),
    like similarity.levenshtein, not UTF-8 bytes (4)."""
    pages = _identical_pages(spark, ["https://é.example/ü", "https://e.example/u"])
    (row,) = run_pipeline(spark, pages, PipelineConfig())["scored_pairs"].collect()
    assert row["accepted"] and row["levenshtein_url"] == 2


def test_precomputed_embedding_of_another_dim(spark) -> None:
    """A precomputed vector whose length differs from the computed ones
    scores cosine 0.0 against them (cosine_similarity's length-mismatch
    rule), so its pairs are rejected and the other pages still cluster."""
    urls = [f"https://dim.example/p{i}" for i in range(4)]
    pre = spark.createDataFrame([(urls[0], [1.0] * 8)], "url string, embedding array<float>")
    out = run_pipeline(spark, _identical_pages(spark, urls), PipelineConfig(),
                       precomputed_embeddings=pre)
    scored = out["scored_pairs"].collect()
    assert len(scored) == 6
    for r in scored:
        odd = urls[0] in (r["url_a"], r["url_b"])
        assert r["accepted"] != odd and (r["cosine"] == 0.0) == odd
    (cluster,) = out["clusters"].collect()
    assert cluster["member_count"] == 3
    assert {r["url"] for r in out["members"].collect()} == set(urls[1:])


def test_oversized_component_split_wired(spark, tmp_path) -> None:
    """A forced mega-family (identical text => one exact block => dense
    accepted pairs) must publish bounded clusters when max_component_docs
    is set, and emit a cluster_split lineage row; with the flag off the
    mega-cluster publishes whole (oracle equality preserved by default)."""
    n = 24
    pages = _boilerplate_pages(spark, n)

    # flag off: one component of 24
    out_off = run_pipeline(spark, pages, PipelineConfig())
    sizes_off = [r["member_count"] for r in out_off["clusters"].collect()]
    assert sizes_off == [n]

    # flag on: every published cluster bounded by the cap; split lineage row
    ckpt = str(tmp_path / "ck_split")
    out_on = run_pipeline(
        spark, pages, PipelineConfig(checkpoint_dir=ckpt, max_component_docs=8)
    )
    clusters = out_on["clusters"].collect()
    assert clusters, "split must still publish sub-clusters"
    assert max(r["member_count"] for r in clusters) <= 8
    assert all("#" in r["component"] for r in clusters)
    split_metrics = out_on["metrics"].where("stage = 'cluster_split'").collect()
    assert len(split_metrics) == 1
    assert split_metrics[0]["rows_out"] == len(clusters)
    # membership is preserved: every page lands in exactly one sub-cluster
    mem = out_on["members"].select("url").collect()
    assert len({r["url"] for r in mem}) == len(mem)


def test_scale_profile_e2e(spark, tmp_path) -> None:
    """PipelineConfig.scale(): the one-switch 100-TB profile — component
    cap on (64), split lineage rows present, every published cluster
    bounded."""
    assert PipelineConfig.scale().max_component_docs == 64
    assert PipelineConfig.scale(max_component_docs=8).max_component_docs == 8

    # block_cap salting already bounds a single block at 64 docs, so to
    # force the split path e2e the test lowers the cap under the profile
    # (the profile's own default stays 64, asserted above)
    pages = _boilerplate_pages(spark, 24)
    ckpt = str(tmp_path / "ck_scale")
    out = run_pipeline(
        spark, pages, PipelineConfig.scale(checkpoint_dir=ckpt, max_component_docs=8)
    )
    clusters = out["clusters"].collect()
    assert clusters and max(r["member_count"] for r in clusters) <= 8
    split_rows = out["metrics"].where("stage = 'cluster_split'").collect()
    assert len(split_rows) >= 1


def test_pipeline_edge_inputs(spark) -> None:
    """Degenerate inputs: empty page set -> 0 clusters; empty html bytes,
    broken entities, empty text -> zero-norm embeddings, pairs rejected,
    no crash (the verify-skill probes, automated)."""
    import pandas as pd

    empty = spark.createDataFrame(
        [], "url string, warc_ts timestamp, html binary, text string, lang string"
    )
    out = run_pipeline(spark, empty, PipelineConfig())
    assert out["clusters"].count() == 0
    assert out["members"].count() == 0

    rows = [
        ("u://empty", pd.Timestamp("2024-01-01"), b"", None, "en"),
        ("u://broken", pd.Timestamp("2024-01-01"), b"<html><p>&#x;</p>", None, "en"),
        ("u://ws", pd.Timestamp("2024-01-01"), b"<html><p>   </p></html>", None, "en"),
    ]
    pdf = pd.DataFrame(rows, columns=["url", "warc_ts", "html", "text", "lang"])
    pages = spark.createDataFrame(
        pdf, "url string, warc_ts timestamp, html binary, text string, lang string"
    )
    out2 = run_pipeline(spark, pages, PipelineConfig())
    # zero-norm embeddings give cosine 0 -> every candidate pair rejected
    assert out2["scored_pairs"].where("accepted").count() == 0
    assert out2["clusters"].count() == 0
    sigs = {r["url"]: r for r in out2["signatures"].collect()}
    assert len(sigs) == 3 and all(s["doc_hash"] for s in sigs.values())


def test_embed_fn_seam(spark) -> None:
    """signatures_stage(embed_fn=...): a batched mock model replaces the
    feature-hash embedding (the embedding_generator.cpp:386-407 batching
    contract); the default path stays byte-identical to the shared
    oracle embedding."""
    import numpy as np
    import pandas as pd

    from yams_spark.operators.signatures import compute_signature_row, signatures_stage

    rows = [
        ("u://a", pd.Timestamp("2024-01-01"), b"<html><p>alpha beta</p></html>", None, "en"),
        ("u://b", pd.Timestamp("2024-01-02"), b"<html><p>gamma delta epsilon</p></html>", None, "en"),
    ]
    pdf = pd.DataFrame(rows, columns=["url", "warc_ts", "html", "text", "lang"])
    pages = spark.createDataFrame(
        pdf, "url string, warc_ts timestamp, html binary, text string, lang string"
    )

    def mock_embed(texts):
        return [[float(len(t) % 7)] * 8 for t in texts]

    got = {r["url"]: r for r in signatures_stage(pages, embed_fn=mock_embed).collect()}
    for url, _, html, _, _ in rows:
        text = got[url]["extracted_text"]
        assert got[url]["embedding"] == [float(len(text) % 7)] * 8
        # non-embedding columns unaffected by the seam
        assert got[url]["doc_hash"] == compute_signature_row(url, html)["doc_hash"]

    # default path: byte-identical to the shared oracle embedding
    default = {r["url"]: r["embedding"] for r in signatures_stage(pages).collect()}
    for url, _, html, _, _ in rows:
        want = np.asarray(compute_signature_row(url, html)["embedding"], dtype=np.float32)
        assert np.array_equal(np.asarray(default[url], dtype=np.float32), want)
