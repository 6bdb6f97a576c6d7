#!/usr/bin/env python3
"""kgspark benchmark: one workload, one process, Spark ``local[nproc]``.

    python3 perfbench/run.py --workload fact_dense --seed 7 --seconds 10 --trace 0

Generates a seeded corpus with ``kgspark.datagen``, runs the workload
through the engine's public entry points, checks every output against
plain-Python answers over the golden triple set (perfbench/oracle.py)
and prints, as its last stdout line, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs the
same workload with a span around every layer call and reports the
per-layer metrics instead (perfbench/spans.py). The line before the
result is the run record (input digests, datagen parameters, box
state); it is also appended to perfbench/_work/ledger.jsonl, and a
traced run writes its spans to perfbench/_work/trace-<workload>-<seed>.json.
See perfbench/README.md for the workloads and metrics.
"""

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")
sys.path[:0] = [HERE, ROOT]

# fails at once outside a kgspark checkout
from kgspark import datagen, golden  # noqa: E402
from kgspark.constants import CLS_LOCATION, CLS_PROVIDER, TRIPLE_COLUMNS  # noqa: E402

import oracle  # noqa: E402
from spans import Tracer  # noqa: E402

# Datagen parameters per workload. ``n_pages`` is the full size; the
# canary pins below fix what datagen makes of the rest.
WORKLOADS = {
    "fact_dense": dict(
        n_pages=600, pre_extracted_fraction=1.0, facts_range=(8, 12),
        alias_fraction=0.5,
    ),
    "live_ingest": dict(
        n_pages=360, pre_extracted_fraction=0.0, facts_range=(1, 3),
        filler_paras=10,
    ),
}
# live_ingest page files: file 0 is the untimed warm-up drain, file 1
# the timed one; traced runs also drain file 2 after the window, to see
# how drain time grows with the state
LIVE_FILES = 3
CANARY_PAGES = 24
# sha256 of the canary corpus (seed 0, CANARY_PAGES pages) per
# workload. A datagen edit that changes a workload's inputs changes
# its canary, and the benchmark then refuses to run: figures from
# before and after the edit would not be comparable.
PINS = {
    "fact_dense": "7da4c0bcbabc399a496aeda90d0ecfb53408ee53504c484c956caf91b84d2cbe",
    "live_ingest": "47fdc49557bda2999274e2384bd4b2cf53432e5ac2aea4963e1c0f9822d77fe5",
}
DRIVER_MEM = "2g"
ASK_SHAPES = ("shape1", "shape2", "shape3", "shape4", "shape5")
SPARQL = ("q1", "q2", "q3")


def log(msg: str) -> None:
    print(f"[{time.perf_counter() - T_START:7.2f}s] {msg}", file=sys.stderr, flush=True)


def pages_digest(pages) -> str:
    h = hashlib.sha256()
    for url, ts, html, text, lang in pages:
        for part in (url, ts.isoformat(), "\0" if text is None else text, lang):
            h.update(part.encode())
            h.update(b"\x1f")
        h.update(html)
        h.update(b"\x1e")
    return h.hexdigest()


def canary_digest(workload: str) -> str:
    params = dict(WORKLOADS[workload], n_pages=CANARY_PAGES)
    return pages_digest(datagen.generate_corpus(seed=0, **params).pages)


def du(*dirs: str) -> tuple[int, int]:
    """(bytes, files) of the parquet data files under ``dirs``."""
    n = files = 0
    for d in dirs:
        for base, _sub, names in os.walk(d):
            for name in names:
                if name.endswith(".parquet"):
                    n += os.path.getsize(os.path.join(base, name))
                    files += 1
    return n, files


def peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        hwm_kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return (hwm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024


def box_state(spark, nproc: int, master: str) -> dict:
    """bench.py's calibration: single-core busy loop and a trivial job."""
    n = 2_000_000
    t = time.perf_counter()
    acc = 0
    for i in range(n):
        acc += i * i % 7
    cpu_mops = n / (time.perf_counter() - t) / 1e6
    noop = []
    for _ in range(3):
        t = time.perf_counter()
        spark.range(1_000_000, numPartitions=nproc).count()
        noop.append(time.perf_counter() - t)
    return {
        "cpu_mops": round(cpu_mops, 2),
        "spark_job_ms": round(statistics.median(noop) * 1000, 1),
        "nproc": nproc,
        "master": master,
    }


def start_spark(run_dir: str, nproc: int):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # keep every file Spark, the JVM and the Python workers write
    # inside the run directory
    os.environ["TMPDIR"] = tmp
    os.environ["KGSPARK_LOCAL_DIR"] = os.path.join(run_dir, "spark-local")
    # a fixed-size heap (-Xms = the driver memory) keeps the JVM's peak
    # RSS from following run-to-run heap-growth decisions
    os.environ["KGSPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_SUBMIT_OPTS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{DRIVER_MEM}")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    from kgspark.session import get_spark

    master = f"local[{nproc}]"
    spark = get_spark("kgspark-perfbench", master=master, shuffle_partitions=nproc)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, master


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    gw = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def write_pages(pages, path: str) -> None:
    """Write datagen page tuples as one parquet file of the web-page
    table (``datagen.WEBPAGE_SCHEMA``)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema([("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
                        ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string())])
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.table([list(c) for c in zip(*pages)], schema=schema), path)


def dimension_tables(spark, corpus):
    """The alias and canonical-entity tables of ``datagen.corpus_to_spark``."""
    aliases = spark.createDataFrame(corpus.aliases, schema=datagen.ALIAS_SCHEMA)
    canonicals = spark.createDataFrame([(p,) for p in corpus.providers], "canonical string")
    return aliases, canonicals


# -- questions -------------------------------------------------------------
def make_ask(rng: random.Random, kind: str, vocab: dict) -> dict:
    """One interactive question with anchors drawn from ``vocab``
    (providers, first names, locations, conditions of the corpus)."""
    if kind in SPARQL:
        if kind == "q1":
            arg = golden.slugify(rng.choice(vocab["providers"]))
        elif kind == "q2":
            arg = golden.slugify(rng.choice(vocab["locations"]))
        else:
            arg = (rng.randint(18, 90), rng.choice(vocab["conditions"]).lower())
        return {"kind": "sparql", "shape": kind, "arg": arg, "label": f"sparql_{kind}({arg})"}
    prov = rng.choice(vocab["providers"])  # "Dr. First Last"
    first, last = prov.split(" ")[1:3]
    form = prov if rng.random() < 0.5 else f"Dr. {last}"
    loc = rng.choice(vocab["locations"])
    q = {
        "shape1": (f"Which patients are treated by {form}?", form, None),
        "shape2": (f"What specialization does {form} have?", form, None),
        "shape3": (f"Which healthcare providers are located in {loc}?", None, loc),
        "shape4": (
            f"Which patients are treated by healthcare providers named {first}"
            f" located in {loc}?", first, loc,
        ),
        "shape5": (
            f"For {prov} in {loc}, what is the total number of patients she"
            " treats and what is their average age?", prov, loc,
        ),
    }[kind]
    return {"kind": "cypher", "shape": kind, "question": q[0], "provider_q": q[1],
            "location_q": q[2], "label": q[0]}


def vocab_of(fact_rows: list[dict]) -> dict:
    def parts(col):
        return sorted({p for r in fact_rows for p in golden.split_multi(r[col])})

    return {
        "providers": sorted({r["Provider"] for r in fact_rows}),
        "locations": parts("Location"),
        "conditions": parts("Patient_Condition"),
    }


class Run:
    """State of one benchmark run: session, tracer, counters, checks."""

    def __init__(self, args):
        self.args = args
        self.nproc = os.cpu_count() or 1
        self.run_dir = os.path.join(WORK, f"run-{os.getpid()}")
        shutil.rmtree(self.run_dir, ignore_errors=True)
        os.makedirs(self.run_dir)
        t = time.perf_counter()
        self.spark, self.master = start_spark(self.run_dir, self.nproc)
        self.session_start_s = time.perf_counter() - t
        log(f"spark session started in {self.session_start_s:.2f}s")
        self.tr = Tracer(self.spark, enabled=bool(args.trace))
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.asks: list[tuple[dict, list, float | None]] = []  # (ask, rows, seconds)
        self.checked = 0  # asks[:checked] have been checked
        self.layer: dict[str, float] = {}
        self.rng = random.Random(args.seed)

    def path(self, *parts: str) -> str:
        return os.path.join(self.run_dir, *parts)

    # -- one interactive question, closed loop --------------------------
    def ask(self, ask: dict, nodes, edges, triples, timed: bool = True):
        from kgspark.operators import kg_queries, nl_router

        self.attempted += int(timed)
        t = time.perf_counter()
        try:
            if ask["kind"] == "sparql":
                fn = {"q1": kg_queries.sparql_q1, "q2": kg_queries.sparql_q2,
                      "q3": kg_queries.sparql_q3}[ask["shape"]]
                arg = ask["arg"]
                with self.tr.span("kg_queries", "sparql", shape=ask["shape"]):
                    rows = fn(triples, *arg).collect() if isinstance(arg, tuple) \
                        else fn(triples, arg).collect()
            elif not self.tr.enabled:
                rows = nl_router.route_and_execute(nodes, edges, ask["question"]).collect()
            else:
                # route_and_execute's two steps, each in its own span
                spark = nodes.sparkSession
                with self.tr.span("nl_router", "ask"):
                    r = nl_router.route_questions(
                        spark.createDataFrame([(ask["question"],)], ["question"])
                    ).first()
                with self.tr.span("kg_queries", "ask", shape=ask["shape"]):
                    rows = nl_router.execute_shape(
                        nodes, edges, r.shape, r.provider_q, r.location_q, ask["question"]
                    ).collect()
        except Exception as e:  # counted, reported, and the loop goes on
            self.failed += int(timed)
            self.errors.append(f"ask failed: {ask['label']}: {type(e).__name__}: {e}")
            return
        dt = time.perf_counter() - t
        self.asks.append((ask, [tuple(r) for r in rows], dt if timed else None))
        if self.tr.enabled and ask["kind"] == "cypher":
            self.anchor_replay(ask, nodes)

    def anchor_replay(self, ask: dict, nodes) -> None:
        """The full-text anchor lookup of a Cypher ask, as its own span."""
        from pyspark.sql import functions as F

        from kgspark.operators.fulltext import build_inverted_index, fulltext_top1

        cls, text = (CLS_PROVIDER, ask["provider_q"]) if ask["provider_q"] \
            else (CLS_LOCATION, ask["location_q"])
        with self.tr.span("fulltext", "anchor"):
            inv = build_inverted_index(nodes.filter(F.col("type") == cls).select("id", "name"))
            fulltext_top1(inv, text).collect()

    def ask_cycle(self, vocab: dict, nodes, edges, triples, kinds, timed=True) -> None:
        for kind in kinds:
            self.ask(make_ask(self.rng, kind, vocab), nodes, edges, triples, timed)

    def check_asks(self, kg: oracle.GoldenKG) -> None:
        """Check the asks made since the last call against ``kg``."""
        for ask, rows, _dt in self.asks[self.checked:]:
            self.errors += oracle.check_answer(ask, rows, kg)
        self.checked = len(self.asks)

    def collect_triples(self, path: str) -> list[tuple]:
        return [tuple(r) for r in self.spark.read.parquet(path).select(*TRIPLE_COLUMNS).collect()]


def ask_rounds(run: Run, vocab: dict, triples, t_window: float) -> None:
    """The reads: rounds of the three SPARQL goldens, at least one,
    until ``--seconds`` have passed since ``t_window``."""
    while True:
        run.ask_cycle(vocab, None, None, triples, SPARQL)
        if time.perf_counter() - t_window >= run.args.seconds:
            break


# -- fact_dense --------------------------------------------------------------
def build_stage_replay(run: Run, src, aliases, canonicals, out: str) -> None:
    """The stages of run_pipeline, in its order and with its arguments,
    one span each, forced by the same parquet writes."""
    from pyspark.sql import functions as F

    from kgspark.extract.ner import EXTRACT_SCHEMA, extract_facts
    from kgspark.operators.graph_build import edges_from_triples, nodes_from_triples
    from kgspark.operators.linking import link_facts
    from kgspark.operators.rdf_build import build_triples, triple_parts
    from kgspark.plans.pipeline import bucket_col
    from kgspark.runtime import release_materialized

    spark, nb, tr = run.spark, run.nproc, run.tr
    with tr.span("extract", "build"):
        facts = extract_facts(
            src.withColumn("bucket", bucket_col(F.col("url"), nb))
            .select("url", "warc_ts", "html", "text", "lang")
        ).withColumn("bucket", bucket_col(F.col("url"), nb))
        (facts.repartition(nb, "bucket").write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic").partitionBy("bucket")
         .parquet(f"{out}/facts"))
    facts = spark.read.schema(EXTRACT_SCHEMA + ", bucket int").parquet(f"{out}/facts")
    with tr.span("linking", "build"):
        link_facts(facts, aliases, canonicals, "Provider").write.mode("overwrite").parquet(
            f"{out}/linked")
    linked = spark.read.parquet(f"{out}/linked")
    ordered = linked.withColumn("row_idx", F.struct("warc_ts", "url", "sent_idx")) \
        .withColumn("src_ref", F.xxhash64("url"))
    with tr.span("rdf_build", "build"):
        (build_triples(ordered, order_col="row_idx", provenance_col="src_ref")
         .repartition(F.col("pred"), F.pmod(F.xxhash64("subj"), F.lit(8)))
         .write.mode("overwrite").parquet(f"{out}/triples"))
    triples = spark.read.parquet(f"{out}/triples")
    with tr.span("graph_build", "build"):
        nodes_from_triples(triples).write.mode("overwrite").parquet(f"{out}/nodes")
        edges_from_triples(triples).write.mode("overwrite").partitionBy("rel").parquet(
            f"{out}/edges")
    release_materialized()

    # counts outside the spans
    run.layer["extract.rows_out"] = facts.count()
    pairs = (facts.select("url", "sent_idx", F.col("Provider").alias("m"))
             .join(linked.select("url", "sent_idx", F.col("Provider").alias("c")),
                   ["url", "sent_idx"]).select("m", "c").distinct().collect())
    canon = {r.canonical for r in canonicals.collect()}
    mentions = {r.m for r in pairs}
    run.layer["linking.resolved_ratio"] = (
        len({r.m for r in pairs if r.c in canon}) / len(mentions) if mentions else 1.0)
    set_stream, attr = triple_parts(ordered, "row_idx", persist_base=False,
                                    provenance_col="src_ref")
    n_triples = triples.count()
    run.layer["rdf_build.candidates_per_triple"] = (
        (set_stream.count() + attr.count()) / n_triples if n_triples else 0.0)


def fact_dense(run: Run) -> dict:
    from kgspark.plans.pipeline import run_pipeline

    args, spark, tr = run.args, run.spark, run.tr
    params = WORKLOADS["fact_dense"]
    t = time.perf_counter()
    corpus = datagen.generate_corpus(seed=args.seed, **params)
    gen_s = time.perf_counter() - t
    aliases, canonicals = dimension_tables(spark, corpus)
    per = -(-len(corpus.pages) // run.nproc)  # one source file per core
    for i in range(run.nproc):
        write_pages(corpus.pages[i * per:(i + 1) * per], run.path("src", f"part-{i:05d}.parquet"))
    src = spark.read.schema(datagen.WEBPAGE_SCHEMA).parquet(run.path("src"))
    vocab = vocab_of(corpus.fact_rows)

    setup_s = time.perf_counter() - T_START
    log("fact_dense: corpus written; timed build")
    # timed: one build, the first in the process, then SPARQL ask rounds
    # over the built triples until the window closes
    t_window = time.perf_counter()
    kg_dir = run.path("kg")
    with tr.span("pipeline", "build"):
        run_pipeline(spark, src, aliases, kg_dir, snapshot="timed",
                     canonicals=canonicals, n_buckets=run.nproc)
    build_s = time.perf_counter() - t_window
    run.attempted += 1
    nodes, edges, triples = (spark.read.parquet(f"{kg_dir}/{t}")
                             for t in ("nodes", "edges", "triples"))
    log(f"fact_dense: build took {build_s:.2f}s; asks")
    ask_rounds(run, vocab, triples, t_window)
    log("fact_dense: timed window closed; checks")
    kg = oracle.GoldenKG(golden.fact_rows_to_triples(corpus.fact_rows))
    oracle.self_check(kg, [make_ask(random.Random(0), k, vocab) for k in ASK_SHAPES + SPARQL])
    if tr.enabled:
        # Cypher asks cost 1-2 s each here, too many for the untraced
        # window's time budget: the traced run makes one per shape
        tr.enabled = False
        run.ask_cycle(vocab, nodes, edges, triples, ("shape1",), timed=False)  # warm-up
        tr.enabled = True
        run.ask_cycle(vocab, nodes, edges, triples, ASK_SHAPES, timed=False)
    produced = run.collect_triples(f"{kg_dir}/triples")
    run.errors += oracle.check_triples(produced, kg.triples)
    node_ids = [r.id for r in nodes.select("id").collect()]
    edge_rows = [tuple(r) for r in edges.select("src", "rel", "dst").collect()]
    run.errors += oracle.check_graph(node_ids, edge_rows, kg)
    run.check_asks(kg)
    if tr.enabled:
        build_stage_replay(run, src, aliases, canonicals, run.path("replay"))
        batch_phase(run, kg, vocab, nodes, edges)

    kg_bytes, kg_files = du(*(f"{kg_dir}/{t}" for t in ("triples", "nodes", "edges")))
    run.layer.update({
        "datagen.gen_s": gen_s,
        "sources.kg_files": kg_files,
        "sources.bytes_per_triple": kg_bytes / max(len(produced), 1),
    })
    return {
        "setup_s": setup_s,
        "pages_per_s": len(corpus.pages) / build_s,
        "kg_bytes": kg_bytes,
        "inputs": {"source_digest": pages_digest(corpus.pages), "params": params},
    }


def batch_phase(run: Run, kg: oracle.GoldenKG, vocab: dict, nodes, edges) -> None:
    """Traced runs only: the grouped batch path over a question table."""
    from kgspark.operators import nl_batch, nl_router

    rng = random.Random(run.args.seed + 1)
    asks, seen = [], set()
    for i in range(2000):
        a = make_ask(rng, ASK_SHAPES[i % len(ASK_SHAPES)], vocab)
        if a["question"] not in seen:
            seen.add(a["question"])
            asks.append(a)
    qdf = run.spark.createDataFrame([(a["question"],) for a in asks], "question string")
    qdf.write.mode("overwrite").parquet(run.path("questions"))
    qdf = run.spark.read.parquet(run.path("questions"))
    with run.tr.span("nl_batch", "batch", questions=len(asks)):
        rows = nl_batch.execute_routed(nodes, edges, nl_router.route_questions(qdf)).collect()
    got: dict[str, list[str]] = {}
    for r in rows:
        got.setdefault(r.question, []).append(oracle.canon_json(json.loads(r.answer_json)))
    want = {q: a for q, a in oracle.batch_expected(kg, asks).items() if a}
    run.errors += oracle.check_batch(got, want)
    span = run.tr.layer("nl_batch")[-1]
    run.layer["nl_batch.questions_per_s"] = len(asks) / span["wall_s"]


# -- live_ingest -------------------------------------------------------------
def live_ingest(run: Run) -> dict:
    from kgspark.streaming.incremental import incremental_kg

    args, spark, tr = run.args, run.spark, run.tr
    params = WORKLOADS["live_ingest"]
    t = time.perf_counter()
    corpus = datagen.generate_corpus(seed=args.seed, **params)
    gen_s = time.perf_counter() - t
    aliases, canonicals = dimension_tables(spark, corpus)
    # per-page fact counts: each fact row is one FACT_SENTENCE in the page
    counts = [corpus.page_texts[p[0]].count(" specialist based in ") for p in corpus.pages]
    if sum(counts) != len(corpus.fact_rows):
        raise RuntimeError("fact rows do not map onto pages; datagen changed")

    per = len(corpus.pages) // LIVE_FILES
    staged, drained_upto = [], []
    os.makedirs(run.path("incoming"))
    for i in range(LIVE_FILES):
        f = run.path("staging", f"part-{i:05d}.parquet")
        write_pages(corpus.pages[i * per:(i + 1) * per], f)
        staged.append(f)
        drained_upto.append(sum(counts[:(i + 1) * per]))

    out = run.path("live")
    live_triples = f"{out}/kg/triples"

    def drain(i: int):
        """Land file ``i``, drain it and check the live triples against
        the golden set of the pages drained so far."""
        landed = run.path("incoming", f"part-{i:05d}.parquet")
        os.rename(staged[i], landed)  # the file lands atomically
        t = time.perf_counter()
        with tr.span("incremental", "drain", file=i, bytes_in=os.path.getsize(landed)):
            incremental_kg(spark, run.path("incoming"), out, aliases, canonicals)
        dt = time.perf_counter() - t
        log(f"live_ingest: drain {i} took {dt:.2f}s")
        rows = corpus.fact_rows[:drained_upto[i]]
        kg = oracle.GoldenKG(golden.fact_rows_to_triples(rows))
        errs = oracle.check_triples(run.collect_triples(live_triples), kg.triples)
        run.errors += [f"after drain {i}: {e}" for e in errs]
        return dt, kg, vocab_of(rows)

    log("live_ingest: files staged; warm-up drain")
    # untimed warm-up at full size: the process's first drain pays for
    # starting the stream machinery and for code generation, and its
    # time swung by 2x between runs
    drain(0)
    setup_s = time.perf_counter() - T_START
    # timed: drain the next file into the live state, then read the live
    # table until the window closes
    t_window = time.perf_counter()
    drain_s, kg, vocab = drain(1)
    run.attempted += 1
    ask_rounds(run, vocab, spark.read.parquet(live_triples), t_window)
    run.check_asks(kg)
    log("live_ingest: timed window closed")
    oracle.self_check(kg, [make_ask(random.Random(0), k, vocab) for k in SPARQL])

    state = [f"{out}/kg/{t}" for t in ("mention_map", "set_triples", "attr_state", "triples")]
    kg_bytes, kg_files = du(*state)
    n_triples = len(kg.triples)
    if tr.enabled:
        for i in range(2, LIVE_FILES):
            drain(i)
        spans = tr.layer("incremental")
        run.layer.update({
            "incremental.drain_s": drain_s,
            "incremental.jobs_per_drain": statistics.mean(s["jobs"] for s in spans),
            "incremental.write_amp": sum(s["output_bytes"] for s in spans)
            / sum(s["bytes_in"] for s in spans),
            # the first drain is also the process's first: compare later ones
            "incremental.drain_growth": spans[2]["wall_s"] / spans[1]["wall_s"],
        })
        extract_replay(run, [run.path("incoming", os.path.basename(f)) for f in staged])
    run.layer.update({
        "datagen.gen_s": gen_s,
        "sources.kg_files": kg_files,
        "sources.bytes_per_triple": kg_bytes / max(n_triples, 1),
    })
    return {
        "setup_s": setup_s,
        "pages_per_s": per / drain_s,
        "kg_bytes": kg_bytes,
        "inputs": {"source_digest": pages_digest(corpus.pages),
                   "params": dict(params, files=LIVE_FILES)},
    }


def extract_replay(run: Run, files: list[str]) -> None:
    """Traced runs only: extract_facts over each drained file, one span each."""
    from kgspark.extract.ner import extract_facts

    rows = 0
    for i, f in enumerate(files):
        with run.tr.span("extract", "replay", file=i):
            extract_facts(run.spark.read.parquet(f)).write.mode("overwrite").parquet(
                run.path("replay", f"facts-{i}"))
        rows += run.spark.read.parquet(run.path("replay", f"facts-{i}")).count()
    run.layer["extract.rows_out"] = rows


# -- metrics -----------------------------------------------------------------
E2E = {"setup_s": "s", "pages_per_s": "pages/s", "kg_bytes": "bytes", "peak_rss_mb": "MB"}
COMMON = ("wall_s", "jobs", "task_s", "jvm_cpu_s", "python_s", "shuffle_bytes",
          "spill_bytes", "gc_s")
PER_LAYER = (
    ["session.start_s", "datagen.gen_s"]
    + [f"extract.{k}" for k in COMMON] + ["extract.rows_out"]
    + [f"linking.{k}" for k in ("wall_s", "jobs", "task_s", "shuffle_bytes", "resolved_ratio")]
    + [f"rdf_build.{k}" for k in COMMON] + ["rdf_build.candidates_per_triple"]
    + [f"graph_build.{k}" for k in ("wall_s", "jobs", "shuffle_bytes")]
    + ["pipeline.wall_s", "pipeline.jobs", "pipeline.extra_jobs",
       "sources.kg_files", "sources.bytes_per_triple", "runtime.cached_blocks_after",
       "incremental.drain_s", "incremental.jobs_per_drain", "incremental.write_amp",
       "incremental.drain_growth", "nl_router.route_ms", "fulltext.anchor_ms"]
    + [f"kg_queries.{s}_ms" for s in ASK_SHAPES]
    + ["kg_queries.sparql_ms", "kg_queries.jobs_per_ask"]
    + ["nl_batch.wall_s", "nl_batch.jobs", "nl_batch.shuffle_bytes", "nl_batch.questions_per_s",
       "spark.failed_tasks"]
)


def layer_metrics(run: Run) -> dict:
    tr, m = run.tr, dict(run.layer)
    m["session.start_s"] = run.session_start_s
    for layer in ("extract", "linking", "rdf_build", "graph_build", "pipeline", "nl_batch"):
        spans = tr.layer(layer)
        m[f"{layer}.wall_s"] = sum(s["wall_s"] for s in spans)
        m[f"{layer}.jobs"] = sum(s["jobs"] for s in spans)
        m[f"{layer}.task_s"] = sum(s["task_s"] for s in spans)
        m[f"{layer}.jvm_cpu_s"] = sum(s["jvm_cpu_s"] for s in spans)
        m[f"{layer}.python_s"] = m[f"{layer}.task_s"] - m[f"{layer}.jvm_cpu_s"]
        m[f"{layer}.shuffle_bytes"] = sum(s["shuffle_write_bytes"] for s in spans)
        m[f"{layer}.spill_bytes"] = sum(s["spill_bytes"] + s["spill_mem_bytes"] for s in spans)
        m[f"{layer}.gc_s"] = sum(s["gc_s"] for s in spans)
    if tr.layer("pipeline"):
        staged = sum(m[f"{x}.jobs"] for x in ("extract", "linking", "rdf_build", "graph_build"))
        m["pipeline.extra_jobs"] = m["pipeline.jobs"] - staged
    m["runtime.cached_blocks_after"] = sum(
        r.numCachedPartitions() for r in run.spark.sparkContext._jsc.sc().getRDDStorageInfo())

    def med_ms(spans):
        return 1000 * statistics.median(s["wall_s"] for s in spans) if spans else 0.0

    route = tr.layer("nl_router")
    m["nl_router.route_ms"] = med_ms(route)
    m["fulltext.anchor_ms"] = med_ms(tr.layer("fulltext"))
    q = tr.layer("kg_queries")
    for shape in ASK_SHAPES:
        m[f"kg_queries.{shape}_ms"] = med_ms([s for s in q if s["shape"] == shape])
    m["kg_queries.sparql_ms"] = med_ms([s for s in q if s["shape"] in SPARQL])
    m["kg_queries.jobs_per_ask"] = (
        (sum(s["jobs"] for s in q) + sum(s["jobs"] for s in route)) / len(q) if q else 0.0)
    m["spark.failed_tasks"] = sum(s["failed_tasks"] for s in tr.spans)
    return {k: {"value": float(m.get(k, 0.0)), "unit": UNIT[k]} for k in PER_LAYER}


def layer_unit(name: str) -> str:
    leaf = name.split(".")[1]
    if leaf == "questions_per_s":
        return "questions/s"
    if leaf.endswith("_ms"):
        return "ms"
    if leaf.endswith("_s"):
        return "s"
    if "bytes" in leaf:
        return "bytes"
    if leaf in ("resolved_ratio", "candidates_per_triple", "write_amp", "drain_growth"):
        return "ratio"
    return "count"


UNIT = {k: layer_unit(k) for k in PER_LAYER}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    canary = canary_digest(args.workload)
    if canary != PINS[args.workload]:
        print(f"refusing to run: datagen now makes different {args.workload} inputs "
              f"(canary {canary[:16]} != pinned {PINS[args.workload][:16]}); figures "
              "would not be comparable with earlier runs. Re-pin PINS in "
              "perfbench/run.py and take a new baseline.", file=sys.stderr)
        return 3

    run = Run(args)
    try:
        res = {"fact_dense": fact_dense, "live_ingest": live_ingest}[args.workload](run)
        timed = [dt for _a, _r, dt in run.asks if dt is not None]
        res["peak_rss_mb"] = peak_rss_mb(run.spark)
        box = box_state(run.spark, run.nproc, run.master)
        log("box state measured")
        layers = layer_metrics(run) if args.trace else None
        e2e_m = {k: {"value": float(res[k]), "unit": u} for k, u in E2E.items()}
    finally:
        stop_spark(run.spark)
        shutil.rmtree(run.run_dir, ignore_errors=True)

    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "canary": canary, "inputs": res["inputs"], "box": box,
        # ask latency is recorded, not reported as a metric: per-run
        # medians moved by 2-3x between runs on a 4-vCPU box (README)
        "ask_ms": 1000 * statistics.median(timed),
        "ask_samples_ms": [round(1000 * dt, 1) for dt in timed],
        "errors": run.errors[:20],
        "e2e": {k: v["value"] for k, v in e2e_m.items()},
    }
    result = {
        "correct": not run.errors,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": layers if args.trace else e2e_m,
    }
    if args.trace:
        run.tr.write(os.path.join(WORK, f"trace-{args.workload}-{args.seed}.json"),
                     {"record": record, "per_layer": layers})
    with open(os.path.join(WORK, "ledger.jsonl"), "a") as f:
        f.write(json.dumps({**record, **result}) + "\n")
    for e in run.errors:
        print(f"CHECK FAILED: {e}", file=sys.stderr)
    print(json.dumps({"record": record}))
    print(json.dumps(result))
    return 0 if not run.errors else 1


if __name__ == "__main__":
    sys.exit(main())
