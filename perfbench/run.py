"""End-to-end job-search benchmark: seeded raw tweets -> preprocess ->
serve-loop publish -> HTTP answers, with per-layer traced numbers.

Run from the repository root:

    python3 perfbench/run.py --workload search_open --seed 1 --seconds 6 --trace 0

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` (the end-to-end metrics with
``--trace 0``, the per-layer ones with ``--trace 1``). A full record of the
run (seed, generator parameters, host, every sample, and the spans of a
traced run) goes to ``.perfbench/runs/``, stamped so runs never overwrite
each other. Metric definitions and the layer map are in perfbench/README.md.

Every run takes the same path through the engine's public functions:

1. set-up, cold: session start, then the bootstrap raw file through
   ``preprocess`` and ``write_outputs`` (parquet and CSV), ``serve_batch``
   into an empty serving directory, the doc and user stores,
   ``read_served_index``, and a ``SearchService`` behind the HTTP server;
2. priming traffic, opened by a request for the bootstrap's probe tweet:
   open-loop reads at a fixed rate, for a few seconds (search_open) or while
   a raw micro-batch is preprocessed, published and refreshed into the
   service (ingest_serve_mixed);
3. the measured traffic: for ``--seconds``, the client keeps every one of
   its connections busy with requests over the three reference routes, so
   the service answers as fast as it can;
4. correctness checks, then shutdown of the server, Spark and its JVM.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
from dataclasses import asdict, dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import loadgen  # noqa: E402
import tracing  # noqa: E402

PACKAGE = "job_search_engine_using_pyspark_solar_and_angular_spark"
BOOT_STATUSES = 2000  # ~2.2 MB of raw JSON; ~850 docs survive preprocess
# the measured window offers this many requests per second, all due at its
# start: more than the service answers (about 1-4/s on 4 cores), so every
# connection stays busy until the window ends and the rest are never sent
OFFERED_RPS = 20
EXACT_SAMPLE = 2  # keyword answers re-checked against a fresh index
PROBE_TRIES = 5  # keyword requests for a probe after its batch is published
BATCH_LEAD_S = 0.5  # the micro-batch lands this long into the priming reads
# the route mix, repeated in order: keyword-heavy, 3 : 1 : 1. Keyword search
# is the job seeker's main route, so it takes a clear majority (60 %); the
# two lookup routes share the rest evenly
MIX = ("keyword", "hashtag", "keyword", "user", "keyword")
USER_COLS = (
    "user_name", "user_screen_name", "user_verified", "user_profile_image_url",
    "user_profile_banner_url", "user_profile_background_image_url",
    "user_followers_count", "user_friends_count",
)


@dataclass(frozen=True)
class Workload:
    why: str
    # priming: open-loop reads at ``rate`` requests/s, for ``prime_s``
    # seconds or (with ``batch_statuses``) until a micro-batch of that many
    # raw statuses is published and its probe answered
    rate: float
    prime_s: float = 0.0
    batch_statuses: int = 0


WORKLOADS = {
    "search_open": Workload(
        why="read path only: api, bm25, HTTP and per-request Spark scheduling "
            "on the one-segment bootstrap index; nothing is written while the "
            "traffic runs",
        rate=1.5, prime_s=5.0,
    ),
    "ingest_serve_mixed": Workload(
        why="writes beside reads: a raw micro-batch is preprocessed, published "
            "and refreshed into the service under open-loop reads; the measured "
            "reads then hit the two-segment index",
        rate=0.8, batch_statuses=150,
    ),
}


# -- helpers -------------------------------------------------------------------
def median(xs):
    return statistics.median(xs) if xs else 0.0


def probe_token(seed: int, label: str) -> str:
    # 'q' and 'x' never occur in generated vocabulary words
    return f"qx{seed}p{label}"


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(d, f))
    return total


def proc_peak_rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host so far, from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return vals[7] if len(vals) > 7 else 0, sum(vals[:8])


def host_calibration() -> float:
    """Seconds for a fixed CPU-bound Python loop, to compare hosts."""
    import hashlib

    t = time.perf_counter()
    h = b"perfbench"
    for _ in range(200_000):
        h = hashlib.sha256(h).digest()
    return time.perf_counter() - t


def schedule(corpus: gen.Corpus, n: int, rate: float = 0.0, rung: int = 0,
             first_k: int = 0) -> list[loadgen.Request]:
    """``n`` requests in ``MIX`` order, due ``1 / rate`` s apart (``rate``
    0: all due at once). Arguments come from each route's stratified
    sequence, starting at ``first_k``."""
    reqs: list[loadgen.Request] = []
    per_route: dict[str, int] = {}
    for i in range(n):
        route = MIX[i % len(MIX)]
        k = per_route.get(route, first_k)
        per_route[route] = k + 1
        reqs.append(loadgen.Request(
            i + 1, i / rate if rate else 0.0, route, corpus.request_arg(route, k), rung
        ))
    return reqs


# -- the engine path -------------------------------------------------------------
class Engine:
    """The engine's public functions, looked up on their modules at each call
    so a traced run's wrappers are the ones called."""

    def __init__(self) -> None:
        import importlib

        def m(name):
            return importlib.import_module(f"{PACKAGE}.{name}")

        self.session = m("session")
        self.tweets = m("sources.tweets")
        self.pp = m("plans.preprocess")
        self.dedup = m("operators.dedup")
        self.serve_loop = m("search.serve_loop")
        self.http = m("search.http_server")
        self.api = m("search.api")
        self.bm25 = m("search.bm25")
        self.index = m("search.index")


def ingest(eng: Engine, spark, raw: str, out: str) -> dict:
    """The Fig. 10 job: raw JSONL -> preprocess -> parquet and CSV sinks."""
    t0 = time.perf_counter()
    df = eng.pp.preprocess(eng.tweets.read_tweets(spark, raw, multiline=False))
    plan_s = time.perf_counter() - t0
    st: dict = {}
    eng.pp.write_outputs(df, f"{out}/parquet", f"{out}/csv", stage_times=st)
    return {
        "s": time.perf_counter() - t0,
        "plan_s": plan_s,
        "parquet_s": st.get("parquet_sec", 0.0),
        "csv_s": st.get("csv_sec", 0.0),
        "mb": os.path.getsize(raw) / 1e6,
        "parquet": f"{out}/parquet",
        "csv": f"{out}/csv",
    }


def relations(eng: Engine, spark, parquet_dirs: list[str], out: str):
    """The doc and user stores the routes read, written once per publish
    (the part of the reference's Solr collections the serve loop does not
    keep): docs hold the latest observation of each org across all published
    outputs, users the distinct authors; their column names are disjoint.
    Writing them keeps that work off every request."""
    from pyspark.sql import functions as F

    df = spark.read.parquet(*parquet_dirs)
    if len(parquet_dirs) > 1:
        df = eng.dedup.latest_wins_agg(df, ["org_id"], "samp_datetime", ["samp_id"])
    df = df.withColumnRenamed("org_id", "doc_id")
    df.drop(*USER_COLS).write.mode("overwrite").parquet(f"{out}/docs")
    df.select(
        F.col("user_id").alias("uid"),
        F.col("user_screen_name").alias("screen_name"),
        F.col("user_name").alias("display_name"),
    ).distinct().write.mode("overwrite").parquet(f"{out}/users")
    return spark.read.parquet(f"{out}/docs"), spark.read.parquet(f"{out}/users")


def publish(eng: Engine, spark, parquet: str, serving: str, prefix: str,
            batch_id: int | None = None) -> dict:
    from pyspark.sql import functions as F

    batch = spark.read.parquet(parquet).select(
        F.col("org_id").alias("doc_id"), F.col("org_text").alias("text")
    )
    before = dir_bytes(serving) if os.path.isdir(serving) else 0
    t0 = time.perf_counter()
    r = eng.serve_loop.serve_batch(spark, batch, serving, prefix, batch_id=batch_id)
    r["s"] = time.perf_counter() - t0
    r["bytes_written"] = dir_bytes(serving) - before
    r["input_bytes"] = dir_bytes(parquet)
    return r


@dataclass
class Rec:
    """Everything a run measured, written whole to the run record."""

    setup: dict = field(default_factory=dict)
    boot_ingest: dict = field(default_factory=dict)
    boot_publish: dict = field(default_factory=dict)
    batch: dict = field(default_factory=dict)  # the micro-batch, if any
    errors: list[str] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.errors) < 50:
                self.errors.append(what)


class Serving:
    """The live service: segments live, published outputs, generation."""

    def __init__(self, eng, spark, serving: str, prefix: str, svc, handle) -> None:
        self.eng, self.spark = eng, spark
        self.serving, self.prefix = serving, prefix
        self.svc, self.handle = svc, handle
        self.outputs: list[str] = []
        self.segments = 1
        self.published = 0  # generation whose refresh has finished
        self.publishing = 0  # generation whose refresh may have begun

    def generation(self) -> tuple[int, int]:
        return self.published, self.publishing

    def refresh(self) -> None:
        eng, spark = self.eng, self.spark
        idx = eng.serve_loop.read_served_index(spark, self.serving)
        docs, users = relations(
            eng, spark, self.outputs, f"{self.serving}_stores/g{self.publishing + 1}"
        )
        self.publishing += 1
        self.svc.refresh(index=idx, docs=docs, users=users)
        self.published = self.publishing


def keyword_hits(body: dict) -> list[int]:
    return [d["tweet"]["doc_id"] for d in body.get("data", [])]


def setup(eng, conf, rec: Rec, work: str, boot: str, boot_truth: dict, tracer):
    """Session, bootstrap ingest + publish, stores, service up."""
    t0 = time.perf_counter()
    spark = eng.session.get_spark("perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    if tracer:
        tracer.sc = spark.sparkContext
    ing = rec.boot_ingest = ingest(eng, spark, boot, f"{work}/boot")
    check_ingest(rec, ing, boot_truth)
    serving, prefix = f"{work}/serving", f"pb{os.getpid()}"
    t0 = time.perf_counter()
    rec.boot_publish = publish(eng, spark, ing["parquet"], serving, prefix)
    idx = eng.serve_loop.read_served_index(spark, serving)
    docs, users = relations(eng, spark, [ing["parquet"]], f"{serving}_stores/g0")
    svc = eng.http.SearchService(
        spark, idx, docs, users=users, doc_user_key=("user_id", "uid"),
        user_name_col="screen_name", doc_time_col="org_datetime",
        tags_col="org_hashtags", k=10,
    )
    handle = eng.http.serve(svc)
    up_s = time.perf_counter() - t0
    rec.setup = {
        "session_s": session_s, "ingest_s": ing["s"], "publish_s": up_s,
        "setup_s": session_s + ing["s"] + up_s,
    }
    srv = Serving(eng, spark, serving, prefix, svc, handle)
    srv.outputs.append(ing["parquet"])
    return spark, srv


# -- checks ----------------------------------------------------------------------
def check_ingest(rec: Rec, ing: dict, truth: dict) -> None:
    """Both sinks hold exactly the generator's admissible orgs, one row
    each, and there are some. The sinks are read without Spark."""
    import csv as csvlib
    import glob

    import pyarrow.parquet as pq

    expected = sorted(truth["admissible"])
    got = sorted(pq.read_table(ing["parquet"], columns=["org_id"]).column(0).to_pylist())
    ing["rows_out"] = len(got)
    csv = []
    for part in sorted(glob.glob(f"{ing['csv']}/*.csv")):
        with open(part, newline="") as f:
            rows = csvlib.DictReader(f, escapechar="\\", doublequote=False)
            csv += [int(row["org_id"]) for row in rows]
    csv.sort()
    rec.check(bool(expected), f"{ing['parquet']}: generator expects no rows")
    rec.check(got == expected,
              f"{ing['parquet']}: {len(got)} rows, expected {len(expected)}")
    rec.check(csv == expected, f"{ing['csv']}: {len(csv)} rows, expected {len(expected)}")


def check_answer(rec: Rec, res: loadgen.Result, truth_at) -> None:
    """``truth_at(g)`` gives (hashtag counts, user counts) of generation g."""
    what = f"{res.route} {res.arg!r}"
    if res.error is not None or res.body is None:
        rec.check(False, f"{what}: {res.error}")
        return
    b = res.body
    if b.get("status_code") != 200:
        rec.check(False, f"{what}: status {b.get('status_code')}")
        return
    if res.route == "keyword":
        ids = keyword_hits(b)
        rec.check(len(ids) == len(set(ids)) and len(ids) <= 10,
                  f"{what}: duplicate or too many hits")
        return
    if res.route == "hashtag":
        ids = [d["tweet"]["doc_id"] for d in b["data"]]
        lo, hi = (truth_at(g)[0][res.arg] for g in (res.gen_sent, res.gen_done))
    else:
        ids = [t["doc_id"] for t in b["tweets"]]
        lo, hi = (truth_at(g)[1][res.arg] for g in (res.gen_sent, res.gen_done))
    rec.check(len(ids) == len(set(ids)), f"{what}: duplicate doc ids")
    rec.check(lo <= b["count"] <= hi and b["count"] == len(ids),
              f"{what}: count {b['count']} outside [{lo}, {hi}]")


def check_exact(eng, spark, srv: Serving, rec: Rec, results) -> None:
    """The last ``EXACT_SAMPLE`` keyword answers served over HTTP from the
    final generation equal BM25 over a fresh index of the live docs (the
    serve-loop exactness property)."""
    from pyspark.sql import functions as F

    answers: dict[str, dict] = {}
    for r in reversed(results):
        if (r.route == "keyword" and r.body is not None and r.error is None
                and r.gen_sent == r.gen_done == srv.published and r.arg not in answers):
            answers[r.arg] = r.body
        if len(answers) == EXACT_SAMPLE:
            break
    rec.check(len(answers) == EXACT_SAMPLE, "exactness: too few keyword answers")
    idx = eng.serve_loop.read_served_index(spark, srv.serving)
    docs = srv.svc.docs.join(idx.doc_stats.select("doc_id"), "doc_id", "left_semi")
    fresh = eng.index.build_index(
        docs.select("doc_id", F.col("org_text").alias("text")), cache=True
    )
    try:
        for q, body in answers.items():
            got = [(d["tweet"]["doc_id"], d["tweet"]["score"]) for d in body["data"]]
            want = [
                (r["doc_id"], r["score"])
                for r in eng.bm25.bm25_search(
                    spark, fresh, eng.api.tokenize_query(q), k=10
                ).collect()
            ]
            rec.check(got == want, f"exactness {q!r}: served {got[:3]} != fresh {want[:3]}")
    finally:
        fresh.postings.unpersist()
        fresh.doc_stats.unpersist()


# -- traffic -------------------------------------------------------------------------
def prime(eng, spark, srv: Serving, w: Workload, rec: Rec, corpus: gen.Corpus,
          boot_tok: str, batch_file, work: str, workers: int):
    """The open-loop traffic before the measured window, opened by a
    request for the bootstrap's probe; the JVM compiles the answer paths
    here. search_open: ``w.prime_s`` seconds of it. Mixed: it runs while
    this thread, as the ingest thread, lands the micro-batch, publishes it
    as a second segment, refreshes the service and asks for the batch's
    probe until an answer holds it. Returns the client and the
    micro-batch's freshness (None without one)."""
    reqs = [loadgen.Request(0, 0.0, "keyword", boot_tok)]
    if batch_file is None:
        reqs += schedule(corpus, int(w.prime_s * w.rate), w.rate, first_k=100_000)
        client = loadgen.OpenLoop(srv.handle.url, reqs, workers,
                                  generation=srv.generation)
        client.start()
        client.join()
        return client, None
    horizon = 120.0  # ended early, once the probe is seen
    reqs += schedule(corpus, int(horizon * w.rate), w.rate, first_k=100_000)
    client = loadgen.OpenLoop(srv.handle.url, reqs, workers, generation=srv.generation)
    client.start()
    path, truth, tok = batch_file
    wait = BATCH_LEAD_S - client.now()
    if wait > 0:
        time.sleep(wait)
    t0 = client.now()
    ing = ingest(eng, spark, path, f"{work}/batch")
    pub = publish(eng, spark, ing["parquet"], srv.serving, srv.prefix, batch_id=1)
    srv.outputs.append(ing["parquet"])
    srv.segments += 1
    srv.refresh()
    published = client.now()
    seen = None
    for _ in range(PROBE_TRIES):
        if truth["probe_id"] in keyword_hits(client.get("keyword", tok)):
            seen = client.now()
            break
    rec.check(seen is not None, "micro-batch: probe not answered after publish")
    rec.batch = {"due": BATCH_LEAD_S, "start": t0, "published": published,
                 "seen": seen, "ingest": ing, "publish": pub}
    client.end = client.now()
    client.join()
    return client, None if seen is None else seen - BATCH_LEAD_S


# -- the run ---------------------------------------------------------------------------
def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ under {root}; run from the repository root",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    result, record = run(args, root)
    runs = os.path.join(root, ".perfbench", "runs")
    os.makedirs(runs, exist_ok=True)
    if args.trace:
        record["overhead_vs_untraced"] = overhead_vs_untraced(runs, record)
    name = f"{args.workload}-s{args.seed}-t{args.trace}-{record['stamp']}.json"
    with open(os.path.join(runs, name), "w") as f:
        json.dump(record, f, indent=1, default=str)
    print(json.dumps(result))
    return 0


def overhead_vs_untraced(runs: str, record: dict) -> dict | None:
    """The tracing overhead as measured: each end-to-end metric of this
    traced run relative to the latest untraced run of the same workload and
    seed in ``runs`` (None if there is none)."""
    prefix = f"{record['workload']}-s{record['seed']}-t0-"
    names = sorted(n for n in os.listdir(runs) if n.startswith(prefix))
    if not names:
        return None
    with open(os.path.join(runs, names[-1])) as f:
        base = json.load(f)["end_to_end"]
    return {
        "untraced_run": names[-1],
        "ratio": {k: v / base[k] for k, v in record["end_to_end"].items() if base.get(k)},
    }


def run(args, root: str):
    w = WORKLOADS[args.workload]
    marks = [("start", time.perf_counter())]
    stamp = time.strftime("%Y%m%dT%H%M%S", time.gmtime()) + f"-{os.getpid()}"
    work = os.path.join(root, ".perfbench", "work", f"{args.workload}-{stamp}")
    os.makedirs(f"{work}/tmp", exist_ok=True)
    os.environ["TMPDIR"] = f"{work}/tmp"
    tempfile.tempdir = None
    # spark-submit's launcher JVM writes no hsperfdata file under /tmp either
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    # client threads stay within nproc: the workers and this thread (the
    # ingest thread of the mixed workload)
    workers = max(1, cpus - 1)
    calib = host_calibration()
    ticks0 = cpu_ticks()

    # inputs: the program sees only these files
    corpus = gen.Corpus(args.seed)
    boot = f"{work}/raw/boot.jsonl"
    os.makedirs(f"{work}/raw")
    boot_tok = probe_token(args.seed, "boot")
    boot_truth = corpus.write_file(boot, BOOT_STATUSES, probe=boot_tok)
    batch_file = None
    live = [set(boot_truth["admissible"])]
    if w.batch_statuses:
        path, tok = f"{work}/raw/batch.jsonl", probe_token(args.seed, "b0")
        truth = corpus.write_file(path, w.batch_statuses, probe=tok)
        batch_file = (path, truth, tok)
        live.append(live[0] | set(truth["admissible"]))
    measured = schedule(corpus, int(args.seconds * OFFERED_RPS), rung=1)
    truths = [(corpus.hashtag_counts(s), corpus.user_counts(s)) for s in live]
    marks.append(("inputs", time.perf_counter()))

    eng = Engine()
    tracer = tracing.Tracer() if args.trace else None
    if tracer:
        install_tracing(tracer, eng)
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        "spark.local.dir": f"{work}/local",
        # no hsperfdata file under /tmp: the run writes only in its checkout
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }
    rec = Rec()
    spark, srv = None, None
    try:
        spark, srv = setup(eng, conf, rec, work, boot, boot_truth, tracer)
        marks.append(("setup", time.perf_counter()))
        java = spark.sparkContext._jvm.java.lang.System.getProperty("java.version")
        if tracer:
            tracer.calibrate()
        primer, fresh = prime(eng, spark, srv, w, rec, corpus, boot_tok, batch_file,
                              work, workers)
        probe = primer.results_by_rid()[0]
        rec.check(probe.body is not None
                  and boot_truth["probe_id"] in keyword_hits(probe.body),
                  "set-up: bootstrap probe not answered")
        rec.setup["freshness_s"] = rec.setup["ingest_s"] + rec.setup["publish_s"] + probe.done
        marks.append(("prime", time.perf_counter()))
        t_traffic = time.time()
        client = loadgen.OpenLoop(srv.handle.url, measured, workers,
                                  generation=srv.generation)
        client.end = args.seconds
        client.start()
        client.join()
        t_traffic = (t_traffic, time.time())
        marks.append(("traffic", time.perf_counter()))
        truth_at = truths.__getitem__
        for res in primer.results + client.results:
            check_answer(rec, res, truth_at)
        check_exact(eng, spark, srv, rec, client.results)
        marks.append(("checks", time.perf_counter()))
        trace_s = 0.0
        if tracer:
            t0 = time.perf_counter()
            jobs, stages = tracing.read_status_store(spark.sparkContext)
            dedup = tracing.dedup_operator_metrics(spark)
            trace_s = time.perf_counter() - t0
        rss_kb = (proc_peak_rss_kb(os.getpid()), jvm_peak_rss_kb())
    finally:
        if srv is not None:
            srv.handle.close()
        if tracer:
            tracer.uninstall()
        if spark is not None:
            spark.stop()
        stop_jvm()
    marks.append(("stop", time.perf_counter()))

    e2e, detail = end_to_end(w, rec, client, primer, fresh, rss_kb, args.seconds)
    record = {
        "stamp": stamp, "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "generator": asdict(corpus.p) | {
            "boot_statuses": BOOT_STATUSES, "batch_statuses": w.batch_statuses,
            "boot_mb": os.path.getsize(boot) / 1e6,
            "boot_admissible": len(boot_truth["admissible"]),
        },
        "workload_def": asdict(w),
        "host": host_info(cpus, calib, java, ticks0),
        "end_to_end": e2e, "detail": detail,
        "phases_s": {b[0]: b[1] - a[1] for a, b in zip(marks, marks[1:])},
        "setup": rec.setup, "boot_ingest": rec.boot_ingest,
        "boot_publish": rec.boot_publish, "batch": rec.batch,
        "errors": rec.errors,
        "requests": [
            {"rid": r.req.rid, "route": r.route, "rung": r.req.rung, "due": r.req.due,
             "sent": r.sent, "done": r.done, "error": r.error}
            for r in primer.results + client.results
        ],
    }
    metrics = e2e
    if tracer:
        metrics = per_layer(tracer, rec, client, primer, srv, jobs, stages, dedup, cpus,
                            t_traffic, trace_s)
        record["per_layer"] = metrics
        record["spans"] = [sp.as_dict() for sp in tracer.spans]
        record["self_times"] = tracer.self_times()
    units = UNITS_TRACE if tracer else UNITS_E2E
    result = {
        "correct": rec.failed == 0,
        "attempted": rec.attempted,
        "failed": rec.failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }
    shutil.rmtree(work, ignore_errors=True)
    return result, record


# -- tracing hooks (benchmark side only) ---------------------------------------------
def install_tracing(tracer: tracing.Tracer, eng: Engine) -> None:
    """Wrap the engine's public functions on their modules. Calls between
    engine modules go through the importing module's name, so the wrapper
    is installed there too (``search_keyword`` as ``http_server`` sees it,
    ``bm25_search`` as ``api`` sees it)."""
    w = tracer.wrap
    w(eng.session, "get_spark", "session.get_spark")
    w(eng.pp, "preprocess", "preprocess.preprocess")
    w(eng.pp, "write_outputs", "preprocess.write_outputs", kind="preprocess")
    w(eng.serve_loop, "serve_batch", "serve_loop.serve_batch", kind="serve_batch")
    w(eng.serve_loop, "read_served_index", "serve_loop.read_served_index")
    w(eng.http, "search_keyword", "api.search_keyword")
    w(eng.api, "bm25_search", "bm25.bm25_search")
    svc = eng.http.SearchService
    w(svc, "query", "service.keyword", kind="keyword")
    w(svc, "hashtag", "service.hashtag", kind="hashtag")
    w(svc, "user", "service.user", kind="user")
    w(svc, "refresh", "service.refresh")
    tracer.wrap_collect(eng.http, "_rows")
    tracer.wrap_handler(eng.http._Handler)


def _gateway():
    from pyspark import SparkContext

    return SparkContext._gateway


def jvm_peak_rss_kb() -> int:
    proc = getattr(_gateway(), "proc", None)
    return proc_peak_rss_kb(proc.pid) if proc is not None else 0


def stop_jvm() -> None:
    """End the gateway JVM (it exits when its stdin closes) and wait."""
    gateway = _gateway()
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    try:
        gateway.shutdown()
    except Exception:  # noqa: BLE001 - the JVM may already be gone
        pass
    if proc.stdin is not None:
        proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except Exception:  # noqa: BLE001 - last resort: do not leave it running
        proc.kill()
        proc.wait(timeout=10)


def host_info(cpus: int, calib: float, java: str, ticks0: tuple[int, int]) -> dict:
    import platform

    import pyspark

    steal, total = (b - a for a, b in zip(ticks0, cpu_ticks()))
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "spark_graft_cpus": cpus,
        "pyspark": pyspark.__version__,
        "java": java,
        "python": platform.python_version(),
        "machine": platform.machine(),
        "calibration_s": calib,
        # the share of the host's CPU time taken by other guests during the
        # run (0 where the kernel does not report it)
        "steal_share": steal / total if total else 0.0,
    }


# -- metrics ---------------------------------------------------------------------------
UNITS_E2E = {
    "setup_s": "s",
    "preprocess_mb_per_s": "MB/s",
    "sustained_rps": "1/s",
    "freshness_p50_s": "s",
}


def end_to_end(w: Workload, rec: Rec, client, primer, fresh: float | None,
               rss_kb: tuple[int, int], seconds: float):
    """``sustained_rps``: answers per second of the measured window, with
    every connection busy throughout it. A request still running when the
    window ends counts by the share of its send-to-answer time that fell
    inside the window, so the figure has no rounding to whole answers and
    no bias from the requests that finish after the window, at lower
    concurrency. Freshness: the micro-batch's (mixed), else the
    bootstrap's."""
    answered = [r for r in client.results if r.error is None]
    sustained = sum(
        1.0 if r.done <= seconds else (seconds - r.sent) / (r.done - r.sent)
        for r in answered
    ) / seconds
    if not w.batch_statuses:
        fresh = rec.setup["freshness_s"]
    boot = rec.boot_ingest
    e2e = {
        "setup_s": rec.setup["setup_s"],
        "preprocess_mb_per_s": boot["mb"] / boot["s"],
        "sustained_rps": sustained,
        "freshness_p50_s": fresh or 0.0,
    }
    # recorded, not gated: their spread between seeds exceeded the bound
    # (perfbench/README.md, Limits). In the window, latency runs from send
    # to answer at full client concurrency; in the open-loop priming, from
    # the due time (the probe excluded)
    lat = {k: [r.done - r.sent for r in client.results if r.route == k]
           for k in loadgen.ROUTES}
    kw_tail = loadgen.tail(lat["keyword"])
    detail = {
        "keyword_p50_s": median(lat["keyword"]),
        "keyword_tail_s": kw_tail[0] if kw_tail else 0.0,
        "keyword_tail_pct": kw_tail[1] if kw_tail else 100.0,
        "hashtag_p50_s": median(lat["hashtag"]),
        "user_p50_s": median(lat["user"]),
        "samples": {k: len(v) for k, v in lat.items()},
        "answered_in_window": sum(1 for r in answered if r.done <= seconds),
        "priming_p50_s": {
            k: median([r.latency for r in primer.results if r.route == k and r.req.rid])
            for k in loadgen.ROUTES
        },
        "failed_ratio": rec.failed / max(rec.attempted, 1),
        "lateness_max_s": primer.lateness_max,
        "outstanding_max": primer.outstanding_max,
        "peak_rss_mb": sum(rss_kb) / 1024.0,
        "peak_rss_mb_python_jvm": [kb / 1024.0 for kb in rss_kb],
    }
    return e2e, detail


UNITS_TRACE = {
    "session.start_s": "s",
    "preprocess.plan_s": "s",
    "preprocess.parquet_s": "s",
    "preprocess.csv_s": "s",
    "preprocess.rows_in": "count",
    "preprocess.rows_out": "count",
    "preprocess.keep_ratio": "ratio",
    "dedup.rows_in": "count",
    "dedup.rows_out": "count",
    "dedup.shuffle_write_bytes": "B",
    "serve_batch.s": "s",
    "serve_batch.arrived": "count",
    "serve_batch.indexed": "count",
    "serve_batch.suppress_ratio": "ratio",
    "serve_batch.bytes_written_per_input_byte": "ratio",
    "read_served_index.s": "s",
    "serve_loop.segments_live": "count",
    "search_keyword.build_s": "s",
    "query.exec_s": "s",
    "service.keyword_s": "s",
    "service.hashtag_s": "s",
    "service.user_s": "s",
    "service.refresh_s": "s",
    "http.overhead_s": "s",
    **{
        f"spark.{kind}.{fig}": tracing.SPARK_FIGURES[fig]
        for kind in tracing.CALL_KINDS
        for fig in tracing.SPARK_FIGURES
        # planning phases are read from the answer's own plan, which only
        # the query routes hand back
        if fig != "catalyst_s" or kind in tracing.QUERY_KINDS
    },
    "loadgen.lateness_max_s": "s",
    "loadgen.outstanding_max": "count",
    "trace.spans": "count",
    "trace.overhead_s": "s",
}


def per_layer(tracer: tracing.Tracer, rec: Rec, client, primer, srv: Serving, jobs, stages,
              dedup: list[dict], cpus: int, t_traffic: tuple[float, float],
              trace_s: float) -> dict:
    spans = tracer.spans
    traffic = [sp for sp in spans if t_traffic[0] <= sp.start <= t_traffic[1]]

    def dur(name, pool=spans):
        return [sp.end - sp.start for sp in pool if sp.name == name]

    boot = rec.boot_ingest
    # the bootstrap ingest's plan comes first, as executions are in time
    # order; without one the dedup figures read 0 and the run fails
    rec.check(bool(dedup), "tracing: no aggregate over a JSON scan in any plan")
    boot_plan = dedup[0] if dedup else {"scan_rows": 0, "rows_in": 0, "rows_out": 0}
    pub = rec.batch.get("publish", rec.boot_publish)
    builds = {
        sp.parent: sp.end - sp.start for sp in traffic
        if sp.name == "api.search_keyword" and sp.parent is not None
    }
    exec_s = [
        (sp.end - sp.start) - builds[sp.sid] for sp in traffic
        if sp.name == "service.keyword" and sp.sid in builds
    ]
    service_by_rid = {
        sp.rid: sp.end - sp.start for sp in traffic
        if sp.name in ("service.keyword", "service.hashtag", "service.user") and sp.rid
    }
    overhead = [
        (r.done - r.sent) - service_by_rid[str(r.req.rid)]
        for r in client.results if str(r.req.rid) in service_by_rid
    ]
    spark_figs, by_span = tracing.spark_by_kind(tracer, jobs, stages, cpus)
    first_ingest = min(
        (sp for sp in spans if sp.kind == "preprocess"), key=lambda sp: sp.start
    )
    return {
        "session.start_s": rec.setup["session_s"],
        "preprocess.plan_s": boot["plan_s"],
        "preprocess.parquet_s": boot["parquet_s"],
        "preprocess.csv_s": boot["csv_s"],
        "preprocess.rows_in": float(boot_plan["scan_rows"]),
        "preprocess.rows_out": float(boot["rows_out"]),
        "preprocess.keep_ratio": boot["rows_out"] / max(boot_plan["scan_rows"], 1),
        "dedup.rows_in": float(boot_plan["rows_in"]),
        "dedup.rows_out": float(boot_plan["rows_out"]),
        # the dedup exchange is the only shuffle of the bootstrap ingest
        "dedup.shuffle_write_bytes": by_span[first_ingest.sid]["shuffle_write_bytes"],
        "serve_batch.s": pub["s"],
        "serve_batch.arrived": float(pub["arrived"]),
        "serve_batch.indexed": float(pub["indexed"]),
        "serve_batch.suppress_ratio": pub["suppressed"] / max(pub["arrived"], 1),
        "serve_batch.bytes_written_per_input_byte":
            pub["bytes_written"] / max(pub["input_bytes"], 1),
        "read_served_index.s": median(dur("serve_loop.read_served_index")),
        "serve_loop.segments_live": float(srv.segments),
        "search_keyword.build_s": median(list(builds.values())),
        "query.exec_s": median(exec_s),
        "service.keyword_s": median(dur("service.keyword", traffic)),
        "service.hashtag_s": median(dur("service.hashtag", traffic)),
        "service.user_s": median(dur("service.user", traffic)),
        "service.refresh_s": median(dur("service.refresh")),
        "http.overhead_s": median(overhead),
        **{k: v for k, v in spark_figs.items() if k in UNITS_TRACE},
        "loadgen.lateness_max_s": primer.lateness_max,
        "loadgen.outstanding_max": float(primer.outstanding_max),
        "trace.spans": float(len(spans)),
        "trace.overhead_s": trace_s + len(spans) * tracer.span_cost_s,
    }


if __name__ == "__main__":
    sys.exit(main())
