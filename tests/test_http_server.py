"""Live HTTP serving surface tests: real sockets against the stdlib
threading server (``search/http_server.py``) — the reference's
``api/Handler.java`` controller + the Angular client contract
(``crud.service.ts``): envelope field names, ``{user,tweet}`` pairing,
in-band error convention, CORS header, concurrent GETs."""

from __future__ import annotations

import itertools
import json
import urllib.request
from concurrent.futures import ThreadPoolExecutor
from urllib.parse import quote

import pytest
from pyspark.sql import functions as F

from job_search_engine_using_pyspark_solar_and_angular_spark.io import load_table
from job_search_engine_using_pyspark_solar_and_angular_spark.search.http_server import (
    SearchService,
    serve,
)
from job_search_engine_using_pyspark_solar_and_angular_spark.search.index import (
    build_index,
)

from .conftest import SF_DIR


def _get(url: str):
    with urllib.request.urlopen(url, timeout=120) as resp:
        return resp.status, dict(resp.headers), json.loads(resp.read())


@pytest.fixture(scope="module")
def service(spark):
    # cache only DERIVED plans (extra columns), never a bare load_table
    # result: the shared session's cache manager substitutes a cached
    # relation into ANY later matching plan, and a cached raw `customer`
    # scan would break the parquet-pushdown plan pins in test_plans.py.
    docs = (
        load_table(spark, SF_DIR, "documents")
        .withColumn("owner", (F.col("doc_id") % 100) + 1)
        .withColumn("hashtags", F.split("text", " "))
        .cache()
    )
    users = load_table(spark, SF_DIR, "customer")
    yield SearchService(
        spark,
        build_index(docs, cache=True),
        docs,
        users=users,
        doc_user_key=("owner", "c_custkey"),
        user_name_col="c_name",
        doc_time_col="doc_id",
        tags_col="hashtags",
    )
    docs.unpersist()


@pytest.fixture(scope="module")
def server(service):
    with serve(service) as handle:
        yield handle


def test_query_route_envelope(server, service):
    """Handler.java:33-74: the query route's envelope — count, data as
    {user,tweet} pairs, in-band status_code/message — over a real socket,
    byte-identical to the direct service call."""
    status, headers, body = _get(
        server.url + "/api/search/query?query=" + quote("spark join")
    )
    assert status == 200
    assert headers["Content-Type"] == "application/json"
    assert headers["Access-Control-Allow-Origin"] == "*"  # @CrossOrigin("*")
    assert body["status_code"] == 200 and body["message"] == "Success"
    assert body["count"] == len(body["data"]) > 0
    for hit in body["data"]:
        assert set(hit) == {"tweet", "user"}
        assert "score" in hit["tweet"] and "doc_id" in hit["tweet"]
        assert hit["user"] is not None and "c_name" in hit["user"]
    scores = [h["tweet"]["score"] for h in body["data"]]
    assert scores == sorted(scores, reverse=True)
    direct = service.query("spark join")
    assert json.loads(json.dumps(direct, default=str)) == body


def test_hashtag_route(server):
    """Handler.java:76-117: exact-match tag search, time-desc ids."""
    status, _, body = _get(server.url + "/api/search/hashtag?tag=spark")
    assert status == 200 and body["status_code"] == 200
    ids = [h["tweet"]["doc_id"] for h in body["data"]]
    assert ids and ids == sorted(ids, reverse=True)


def test_user_route(server, service):
    """Handler.java:119-161: one user object + their items under tweets."""
    # owner = doc_id % 100 + 1 ∈ 1..100; c_custkey starts at 0, so pick a
    # user that actually owns documents.
    name = service.users.filter(F.col("c_custkey") == 1).first()["c_name"]
    status, _, body = _get(server.url + "/api/search/user?id=" + quote(name))
    assert status == 200 and body["status_code"] == 200
    assert body["user"]["c_name"] == name
    assert body["count"] == len(body["tweets"])
    ids = [t["doc_id"] for t in body["tweets"]]
    assert ids == sorted(ids, reverse=True)


def test_unknown_route_404(server):
    """Only a route OUTSIDE the controller surface is a real HTTP 404."""
    with pytest.raises(urllib.error.HTTPError) as exc:
        _get(server.url + "/api/search/nope?x=1")
    assert exc.value.code == 404
    with pytest.raises(urllib.error.HTTPError):
        _get(server.url + "/other")


def test_error_is_in_band(server):
    """Handler.java:66-72: failures return HTTP 200 with status_code=500 in
    the body (the Angular client reads the envelope, not the HTTP status).
    The vector route is unconfigured on this service -> in-band error."""
    status, _, body = _get(server.url + "/api/search/vector?vec=0.1,0.2")
    assert status == 200
    assert body["status_code"] == 500
    assert body["message"] == "Internal Server Error"


def test_error_is_logged_and_counted(server, service, caplog):
    """ROADMAP item 3: the in-band 500 still leaks nothing to the client,
    but the failure is no longer swallowed — the server logs its traceback
    and counts it per route."""
    import logging

    before = service.error_counts().get("vector", 0)
    with caplog.at_level(logging.ERROR):
        _, _, body = _get(server.url + "/api/search/vector?vec=0.1,0.2")
    assert body == {"status_code": 500, "message": "Internal Server Error"}
    assert service.error_counts()["vector"] == before + 1
    failed = [r for r in caplog.records if "/api/search/vector" in r.getMessage()]
    assert failed and failed[0].exc_info is not None
    assert "vector route not configured" in caplog.text


def test_extension_routes(server):
    status, _, body = _get(server.url + "/api/search/autocomplete?prefix=sp")
    assert status == 200 and body["status_code"] == 200
    assert all(h["token"].startswith("sp") for h in body["data"])
    status, _, body = _get(server.url + "/api/search/suggest?prev=spark")
    assert status == 200 and body["status_code"] == 200
    for h in body["data"]:
        assert 0.0 < h["p"] <= 1.0


def test_phrase_related_facets_routes(server):
    """The remaining Lucene-surface capabilities over the socket: phrase
    (positional postings), More-Like-This, facet counts."""
    status, _, body = _get(
        server.url + "/api/search/phrase?q=" + quote("window join")
    )
    assert status == 200 and body["status_code"] == 200
    for h in body["data"]:
        assert h["n_occurrences"] >= 1

    status, _, body = _get(server.url + "/api/search/related?doc_id=1")
    assert status == 200 and body["status_code"] == 200
    assert body["count"] > 0
    sims = [h["sim"] for h in body["data"]]
    assert sims == sorted(sims, reverse=True)
    assert all(h["doc_id"] != 1 for h in body["data"])

    status, _, body = _get(
        server.url + "/api/search/facets?query=spark&cols=lang,source&top=3"
    )
    assert status == 200 and body["status_code"] == 200
    facets = {h["facet"] for h in body["data"]}
    assert facets == {"lang", "source"}
    assert all(h["rn"] <= 3 for h in body["data"])

    # malformed doc_id -> in-band 500, never a stack trace
    status, _, body = _get(server.url + "/api/search/related?doc_id=abc")
    assert status == 200 and body["status_code"] == 500


def test_concurrent_requests(server):
    """ThreadingHTTPServer + Spark's thread-safe action submission: four
    concurrent GETs across three routes all come back green."""
    urls = [
        server.url + "/api/search/query?query=spark",
        server.url + "/api/search/hashtag?tag=join",
        server.url + "/api/search/autocomplete?prefix=a",
        server.url + "/api/search/query?query=" + quote("window join"),
    ]
    with ThreadPoolExecutor(4) as pool:
        results = list(pool.map(_get, urls))
    for status, _, body in results:
        assert status == 200 and body["status_code"] == 200


def test_queries_race_refresh_swaps(spark):
    """refresh()'s atomic-swap claim under load, with a TORN-SNAPSHOT
    detector: two full generations (index+docs) are built over DISJOINT
    doc_id spaces, both containing the probe term. search_keyword fetches
    the hits' docs by doc_id, so a request that paired generation A's
    index with generation B's docs would return count 0 — only a coherent
    snapshot returns hits. The generations also differ in their corpus
    constants (n_docs, avg_dl), which each index resolves lazily, under a
    lock, on its first query — here, while the swaps race. A request that
    scored one generation's postings with the other's constants would
    return that generation's ids with scores matching neither. A swapper
    thread flips whole generations while requests hammer the query route;
    every response must be an in-band 200 equal to one generation's
    answer."""
    import threading

    def _docs(base_id, extra):
        rows = [
            (base_id + 1, "quorum consensus replicates the commit log"),
            (base_id + 2, "quorum reads trade latency for freshness"),
        ] + [(base_id + 3 + i, t) for i, t in enumerate(extra)]
        return spark.createDataFrame(rows, "doc_id long, text string")

    docs_a = _docs(0, [])
    docs_b = _docs(1000, ["leases expire so a partitioned leader steps down early"])

    def _answer(docs):
        # from an index of its own, so the served indexes stay unresolved
        body = SearchService(spark, build_index(docs, cache=True), docs, k=5).query(
            "quorum"
        )
        return [(h["tweet"]["doc_id"], h["tweet"]["score"]) for h in body["data"]]

    want = {"a": _answer(docs_a), "b": _answer(docs_b)}
    assert [s for _, s in want["a"]] != [s for _, s in want["b"]]

    gen_a = (build_index(docs_a, cache=True), docs_a)
    gen_b = (build_index(docs_b, cache=True), docs_b)
    assert gen_a[0].constants is None and gen_b[0].constants is None
    svc = SearchService(spark, gen_a[0], gen_a[1], k=5)

    stop = threading.Event()
    swaps = {"n": 0}

    def swapper():
        while not stop.is_set():
            idx, docs = gen_b if swaps["n"] % 2 else gen_a
            svc.refresh(index=idx, docs=docs)
            swaps["n"] += 1

    t = threading.Thread(target=swapper, daemon=True)
    t.start()
    try:
        with serve(svc) as handle:
            urls = [handle.url + "/api/search/query?query=quorum"] * 12
            with ThreadPoolExecutor(4) as pool:
                results = list(pool.map(_get, urls))
    finally:
        stop.set()
        t.join(timeout=10)
    assert swaps["n"] > 0
    served = set()
    for status, _, body in results:
        assert status == 200 and body["status_code"] == 200 and body["count"] > 0
        got = [(h["tweet"]["doc_id"], h["tweet"]["score"]) for h in body["data"]]
        # all hits from ONE generation, scored with that generation's
        # constants — never a torn mix
        assert got in (want["a"], want["b"]), got
        served.add("a" if got == want["a"] else "b")
    # each served index resolved its own constants, once, and keeps them
    for name, (idx, docs) in (("a", gen_a), ("b", gen_b)):
        if name in served:
            assert idx.constants[0] == docs.count()
            assert idx.corpus_constants() is idx.constants


def test_query_route_pagination(server):
    """Skip/limit on the query route (the params the reference controller
    accepted but ignored, Handler.java:34) — both paging models page
    through a >page-size result set deterministically over a real socket:

    * offset (`start`/`rows`, Solr-style): concatenated pages must equal
      the unpaged ranking exactly;
    * keyset (`after_score`/`after_doc` from the response's `next_after`
      cursor): same pages, constant per-page cost (the limit never
      deepens to offset+rows)."""
    base = server.url + "/api/search/query?query=spark"
    _, _, full = _get(base + "&rows=12")
    assert full["status_code"] == 200 and full["count"] > 6, "need >2 pages"
    ranking = [(h["tweet"]["doc_id"], h["tweet"]["score"]) for h in full["data"]]

    # offset paging: 3 rows per page
    paged = []
    for start in range(0, len(ranking), 3):
        _, _, body = _get(base + f"&start={start}&rows=3")
        assert body["status_code"] == 200
        paged.extend((h["tweet"]["doc_id"], h["tweet"]["score"]) for h in body["data"])
    assert paged == ranking

    # keyset paging: follow the next_after cursor
    keyset = []
    cursor = ""
    while len(keyset) < len(ranking):
        _, _, body = _get(base + "&rows=3" + cursor)
        assert body["status_code"] == 200
        if not body["data"]:
            break
        keyset.extend((h["tweet"]["doc_id"], h["tweet"]["score"]) for h in body["data"])
        nxt = body["next_after"]
        cursor = f"&after_score={nxt['score']}&after_doc={nxt['doc_id']}"
    assert keyset == ranking

    # an unpaged request keeps the reference envelope exactly (no cursor)
    _, _, plain = _get(base)
    assert "next_after" not in plain and plain["count"] > 0


def test_facets_route_pagination(server):
    """start/rows page the (facet, rn)-ordered facet rows."""
    base = server.url + "/api/search/facets?query=spark&cols=lang,source&top=4"
    _, _, full = _get(base)
    assert full["count"] > 3
    rows = [(h["facet"], h["rn"], h["value"]) for h in full["data"]]
    ordered = sorted(rows)
    paged = []
    for start in range(0, len(rows), 3):
        _, _, body = _get(base + f"&start={start}&rows=3")
        assert body["status_code"] == 200
        paged.extend((h["facet"], h["rn"], h["value"]) for h in body["data"])
    assert paged == ordered


def test_docs_users_column_overlap_rejected(spark):
    """_split_tweet_user classifies joined-row fields by users-schema
    membership, so a shared column name would silently move a doc field
    under `user` (Row.asDict keeps one value per name). The snapshot
    constructor rejects the overlap up front — at construction AND on any
    refresh that would introduce it."""
    docs = spark.createDataFrame([(1, "a", "x")], "doc_id long, text string, name string")
    users = spark.createDataFrame([(1, "u")], "uid long, name string")
    with pytest.raises(ValueError, match="disjoint.*name"):
        SearchService(spark, None, docs, users=users, doc_user_key=("doc_id", "uid"))
    ok = SearchService(
        spark,
        None,
        docs.drop("name"),
        users=users,
        doc_user_key=("doc_id", "uid"),
    )
    with pytest.raises(ValueError, match="disjoint.*name"):
        ok.refresh(docs=docs)
    # the failed refresh must not have torn the served generation
    assert ok.docs.columns == ["doc_id", "text"]


def test_refresh_across_index_publish_without_restart(spark, tmp_path):
    """DEPLOY.md §8's operational claim, pinned end-to-end: the HTTP
    endpoint keeps serving across a serve-loop index publish. Batch 0 is
    indexed and served; a query for batch-1 vocabulary returns count 0;
    the serve loop publishes batch 1; ``SearchService.refresh`` swaps the
    re-resolved served index on the LIVE server (same socket, no
    restart); the same query now hits."""
    from job_search_engine_using_pyspark_solar_and_angular_spark.search import (
        serve_loop,
    )

    docs0 = [
        (1, "spark shuffles partition data across executors for wide joins"),
        (2, "parquet stores columns together enabling predicate pushdown"),
    ]
    docs1 = [(3, "zeppelin notebooks orchestrate interactive analysis sessions")]

    def _df(rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    base = str(tmp_path / "serving")
    prefix = "http_rt_" + tmp_path.name.replace("-", "_").lower()
    serve_loop.serve_batch(spark, _df(docs0), base, prefix, postings_buckets=4)

    svc = SearchService(
        spark, serve_loop.read_served_index(spark, base), _df(docs0), k=5
    )
    with serve(svc) as handle:
        url = handle.url + "/api/search/query?query="
        _, _, body = _get(url + "zeppelin")
        assert body["status_code"] == 200 and body["count"] == 0
        _, _, body = _get(url + "pushdown")
        assert body["count"] == 1 and body["data"][0]["tweet"]["doc_id"] == 2

        serve_loop.serve_batch(spark, _df(docs1), base, prefix, postings_buckets=4)
        svc.refresh(
            index=serve_loop.read_served_index(spark, base),
            docs=_df(docs0 + docs1),
        )

        _, _, body = _get(url + "zeppelin")  # same socket, no restart
        assert body["count"] == 1 and body["data"][0]["tweet"]["doc_id"] == 3
        _, _, body = _get(url + "pushdown")  # old corpus still served
        assert body["count"] == 1 and body["data"][0]["tweet"]["doc_id"] == 2


def test_vector_route(spark, tmp_path):
    """The vector extension route against a real on-disk LSH index."""
    from job_search_engine_using_pyspark_solar_and_angular_spark.operators.similarity import (
        write_vector_index_int8,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    path = str(tmp_path / "vecidx")
    write_vector_index_int8(emb, path)
    docs = load_table(spark, SF_DIR, "documents")
    svc = SearchService(
        spark, None, docs, vector_index_path=path, k=5
    )
    qv = emb.orderBy("vec_id").first()["embedding"]
    with serve(svc) as handle:
        status, _, body = _get(
            handle.url
            + "/api/search/vector?vec="
            + ",".join(f"{x:.6f}" for x in qv)
            + "&k=5"
        )
    assert status == 200 and body["status_code"] == 200
    assert body["count"] == len(body["data"]) == 5
    sims = [h["sim"] for h in body["data"]]
    assert sims == sorted(sims, reverse=True)
    assert body["data"][0]["sim"] >= 0.99  # the query vector finds itself


def _served_answer(spark, live, users, query, start=0, rows=None, after=None):
    """The keyword envelope built the long way: a fresh build_index over the
    live docs, BM25, then one join back to the docs and the users,
    ordered by (score desc, doc_id) — what SearchService.query must
    return from the serve-loop segments."""
    from job_search_engine_using_pyspark_solar_and_angular_spark.search.api import (
        tokenize_query,
    )
    from job_search_engine_using_pyspark_solar_and_angular_spark.search.bm25 import (
        bm25_search,
    )

    k = rows if rows is not None else 10
    idx = build_index(live.select("doc_id", "text"), cache=True)
    try:
        hits = bm25_search(spark, idx, tokenize_query(query), k=start + k, after=after)
        got = (
            hits.join(live, "doc_id")
            .join(users, F.col("owner") == F.col("uid"), "left")
            .orderBy(F.col("score").desc(), F.col("doc_id"))
            .collect()
        )[start:]
    finally:
        idx.postings.unpersist()
        idx.doc_stats.unpersist()
    data = []
    for r in got:
        d = r.asDict()
        user = {"uid": d["uid"], "uname": d["uname"]}
        data.append({
            "tweet": {c: d[c] for c in ("doc_id", "score", "text", "owner")},
            "user": user if d["uid"] is not None else None,
        })
    out = {"count": len(data), "data": data}
    if (start > 0 or rows is not None or after is not None) and data:
        last = data[-1]["tweet"]
        out["next_after"] = {"score": last["score"], "doc_id": last["doc_id"]}
    out.update({"status_code": 200, "message": "Success"})
    return out


def test_served_keyword_scores_then_fetches(spark, tmp_path):
    """A served keyword request is score-then-fetch: BM25 over the posting
    lists with the generation's corpus constants as literals, then the
    top hits' docs read by id. Pinned here: at most 4 Spark jobs per
    request on one segment and 6 on two with tombstones, and envelopes
    equal to BM25 over a fresh index of the live docs joined back to docs
    and users — across offset and keyset paging, a term absent from one
    segment, a re-indexed doc, no match, empty query."""
    from job_search_engine_using_pyspark_solar_and_angular_spark.search import (
        serve_loop,
    )

    seg1 = [
        (1, "spark shuffles partition data across executors for wide joins"),
        (2, "parquet stores columns together enabling predicate pushdown in spark"),
        (3, "broadcast joins ship the small table to every spark executor"),
        (4, "watermarks bound streaming state by evicting old windows"),
        (5, "spark caches hot partitions in executor memory between stages"),
        (6, "minhash signatures approximate jaccard similarity of documents"),
    ]
    seg2 = [
        # doc 1 re-indexed: its seg-1 postings are tombstoned
        (1, "kubernetes schedules spark executors onto cluster nodes"),
        # "kafka" is absent from segment 1
        (7, "kafka topics feed spark structured streaming queries"),
    ]
    base = str(tmp_path / "serving")
    prefix = "kw_jobs_" + tmp_path.name.replace("-", "_").lower()

    def _df(rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    def _live(rows):
        # docs and users are parquet, as a deployment serves them, so the
        # by-id fetch runs against a real file scan
        path = str(tmp_path / f"docs{len(rows)}")
        _df(rows).withColumn("owner", F.col("doc_id") % 3).write.parquet(path)
        return spark.read.parquet(path)

    upath = str(tmp_path / "users")
    spark.createDataFrame(
        [(0, "ada"), (1, "grace")], "uid long, uname string"
    ).write.parquet(upath)
    users = spark.read.parquet(upath)
    sc = spark.sparkContext

    groups = itertools.count()

    def _jobs(svc, *args, **kw):
        group = f"kw-jobs-{next(groups)}"
        sc.setJobGroup(group, "served keyword request")
        try:
            body = svc.query(*args, **kw)
        finally:
            sc.setJobGroup("default", "")
        return body, len(sc.statusTracker().getJobIdsForGroup(group))

    serve_loop.serve_batch(spark, _df(seg1), base, prefix, postings_buckets=4)
    docs1 = _live(seg1)
    svc = SearchService(
        spark, serve_loop.read_served_index(spark, base), docs1, users=users,
        doc_user_key=("owner", "uid"), k=10,
    )
    body, n = _jobs(svc, "spark executors")
    assert n <= 4, f"one-segment keyword request ran {n} jobs"
    assert body == _served_answer(spark, docs1, users, "spark executors")
    assert body["count"] > 3

    serve_loop.serve_batch(spark, _df(seg2), base, prefix, postings_buckets=4)
    live = seg2 + [r for r in seg1 if r[0] != 1]
    docs2 = _live(live)
    svc.refresh(index=serve_loop.read_served_index(spark, base), docs=docs2)

    page1, n = _jobs(svc, "spark executors", rows=2)
    assert n <= 6, f"two-segment keyword request ran {n} jobs"
    assert page1 == _served_answer(spark, docs2, users, "spark executors", rows=2)
    cursor = (page1["next_after"]["score"], page1["next_after"]["doc_id"])
    cases = [
        ("spark executors", {}),
        ("spark executors", {"start": 2, "rows": 2}),
        ("spark executors", {"after": cursor, "rows": 2}),
        ("kafka spark", {}),  # kafka: segment 2 only
        ("shuffles kubernetes", {}),  # doc 1's old and new text
        ("zeppelin", {}),  # no match
        ("", {}),  # empty query
    ]
    served = {}
    for query, kw in cases:
        body, n = _jobs(svc, query, **kw)
        assert n <= 6, f"{query!r} {kw}: {n} jobs"
        assert body == _served_answer(spark, docs2, users, query, **kw), (query, kw)
        served[query] = body["data"]
    # the re-indexed doc serves its new text only
    hit = served["shuffles kubernetes"]
    assert [h["tweet"]["doc_id"] for h in hit] == [1]
    assert "kubernetes" in hit[0]["tweet"]["text"]
    assert served["kafka spark"][0]["tweet"]["doc_id"] == 7
    assert served["zeppelin"] == served[""] == []
