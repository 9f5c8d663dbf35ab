# -*- coding: utf-8 -*-
"""End-to-end and per-layer benchmark of the KG engine.

    python3 perfbench/run.py --workload build --seed 1 --seconds 2 --trace 0

Run from the repository root. One workload per process, on
``local[nproc]``. Workloads (see perfbench/README.md):

- ``build``:  after an untimed warm-up pipeline run on other pages, a
  fresh corpus of generated pages goes into an empty warehouse through
  ``run_pipeline(..., link_entities=True)``; the read mix then runs
  against the new graph.
- ``update``: a base graph is built as set-up, then one re-crawl batch
  (half changed pages, half new urls) goes through
  ``run_pipeline(batch_suffix=...)``; the read mix then runs against
  the updated graph.

Every output is checked against an oracle built without the pipeline:
the kernel run directly on the same pages, replayed through the
warehouse's MERGE rules in plain Python, gives the expected triples,
nodes, edges and dropped relations; the same_as table must equal the
linking operator run directly on the expected node names, every link
must meet the linking rule recomputed in Python, and every node's
canonical id must be its same_as component's representative. Read
answers are compared with answers computed from the oracle's tables.
``--trace 1`` wraps the layers in spans, turns on Spark's event log,
runs the catalogue queries (build only) and prints per-layer metrics
instead of end-to-end ones.

The last line of stdout is the result object; the line before it is a
report with the environment, the headline numbers, phase walls and checks.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from collections import Counter
from datetime import timedelta

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
SF_DIR = os.path.join(HERE, "data", "sf0.01")  # copy of the read-only sf0.01 tables

BUILD_PAGES = 2000
WARMUP_PAGES = 200  # build's untimed first pipeline run, on other urls
UPDATE_BASE_PAGES = 1200
UPDATE_BATCH_PAGES = 120  # half changed existing urls, half new urls

GRAPH, USER, KEYWORD = "g_bench", "user_001", "科技"
SETUP_REPS = 3
READS = ("q1", "q4", "q6", "degrees")  # one round = one request of each
MIN_ROUNDS = 1
READ_NAMES = {"q1": "q1_graph", "q4": "q4_user_graphs", "q6": "q6_search",
              "degrees": "degrees"}
CATALOG = {
    "graph": ("supply_msf", "graph_stress", "supply_coreness",
              "snn_clusters", "host_spam_mass"),
    "kg": ("amie_rules", "rule_inferences", "entity_alignment", "kg_motif",
           "pathsim", "triple_fusion"),
}
# the linking rule (operators/linking.py same_as_edges), restated
LINK_COSINE, LINK_PREFIX_CHARS = 0.9, 3


def log(*a):
    print(*a, file=sys.stderr, flush=True)


# ---- inputs ----------------------------------------------------------

def page_rows(seed: int, n: int, start: int = 0) -> list[dict]:
    from knowledge_graph_spark.sources.pages import page_row

    return [page_row(i, seed) for i in range(start, start + n)]


def recrawl_rows(seed: int, base: int, batch: int) -> list[dict]:
    """Half of the batch re-crawls existing urls with new content (another
    seed's page of the same index, crawled a day later), half are new urls."""
    half = batch // 2
    start = (seed * 7919) % (base - half)
    changed = [
        {**o, "html": f["html"], "text": f["text"], "lang": f["lang"],
         "warc_ts": o["warc_ts"] + timedelta(days=1)}
        for o, f in zip(page_rows(seed, half, start), page_rows(seed + 1, half, start))
    ]
    return changed + page_rows(seed, batch - half, start=base)


def land(spark, rows: list[dict], path: str):
    """Write the pages as one parquet file; the pipeline reads them back."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from knowledge_graph_spark.sources.pages import PAGES_SCHEMA

    schema = pa.schema([("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
                        ("html", pa.binary()), ("text", pa.string()),
                        ("lang", pa.string())])
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.Table.from_pylist(rows, schema=schema),
                   os.path.join(path, "part-0.parquet"))
    return spark.read.schema(PAGES_SCHEMA).parquet(path)


def input_bytes(rows: list[dict]) -> int:
    return sum(len(r["html"]) + len((r["text"] or "").encode()) for r in rows)


# ---- oracle ------------------------------------------------------------

def kernel_results(rows: list[dict], tracer) -> tuple[list[dict], float, float]:
    """The kernel's output per page, and the seconds html_to_text and
    extract_entities_relations took on one thread."""
    from knowledge_graph_spark.kernel.extractor import extract_entities_relations
    from knowledge_graph_spark.kernel.html2text import html_to_text

    with tracer.span("kernel.html2text", "kernel"):
        t0 = time.perf_counter()
        texts = [html_to_text(r["html"]) for r in rows]
        h2t_s = time.perf_counter() - t0
    texts = [r["text"] if r["text"] is not None else t for r, t in zip(rows, texts)]
    with tracer.span("kernel.extract", "kernel"):
        t0 = time.perf_counter()
        results = [extract_entities_relations(t) for t in texts]
        ext_s = time.perf_counter() - t0
    return results, h2t_s, ext_s


def rel_type(t):
    """Sanitised relation type, None when invalid (kg_writer's rule:
    '-' -> '_', [A-Za-z0-9_]+ only, upper-cased)."""
    if t is None:
        return None
    t = t.replace("-", "_")
    return t.upper() if re.fullmatch(r"[A-Za-z0-9_]+", t) else None


def nulls_first(v):
    return (v is not None, v)


class GraphOracle:
    """The warehouse's expected content, replayed in plain Python from
    the kernel's output: each pipeline run merges its pages into the
    url-keyed extraction, overwrites the graph's triples and dropped
    relations, upserts nodes by id and inserts edges whose
    (src, dst, rel_type) key is new (in-batch duplicates keep the least
    (verb, similarity, url)). Node ids are ``hex(xxhash64(url)):eid``."""

    def __init__(self, url_hex: dict):
        self.url_hex = url_hex
        self.extracted: dict = {}
        self.nodes: dict = {}
        self.edges: dict = {}

    def apply(self, rows: list[dict], results: list[dict]) -> None:
        for r, res in zip(rows, results):
            self.extracted[r["url"]] = res
        fresh: dict = {}
        self.triples, self.dropped = Counter(), Counter()
        for url, res in self.extracted.items():
            pre = self.url_hex[url]
            ids = {e["id"]: e["name"] for e in res["entities"]}
            for e in res["entities"]:
                self.nodes[f"{pre}:{e['id']}"] = (e["name"], e["type"], url)
            for x in res["relations"]:
                src, dst = f"{pre}:{x['source']}", f"{pre}:{x['target']}"
                sim = x.get("similarity")
                sim = 0.0 if sim is None else float(sim)
                rt, ok = rel_type(x["type"]), x["source"] in ids and x["target"] in ids
                if ok and rt is not None:
                    val = (x["verb"], sim, url)
                    old = fresh.get((src, dst, rt))
                    if old is None or ([nulls_first(v) for v in val]
                                       < [nulls_first(v) for v in old]):
                        fresh[(src, dst, rt)] = val
                else:
                    reason = "invalid_type" if ok else "missing_endpoint"
                    self.dropped[(GRAPH, url, src, dst, x["type"], x["verb"], sim,
                                  reason)] += 1
                s, o = ids.get(x["source"]), ids.get(x["target"])
                if s is not None and o is not None:
                    self.triples[(url, s, x["type"], o)] += 1
        for key, val in fresh.items():
            self.edges.setdefault(key, val)

    def counters(self) -> dict:
        """What run_pipeline's counters must say after the last apply."""
        return {"triples": sum(self.triples.values()), "nodes_total": len(self.nodes),
                "edges_total": len(self.edges),
                "dropped_total": sum(self.dropped.values())}

    def tables(self, links: dict) -> dict[str, Counter]:
        """Expected rows of each checked table, given the same_as links
        {(name_a, name_b): score}."""
        rep = canonical_names(links)
        return {
            "triples": self.triples,
            "nodes": Counter((GRAPH, USER, i, n, t, u, rep.get(n, n))
                             for i, (n, t, u) in self.nodes.items()),
            "edges": Counter((GRAPH, USER, s, d, rt, v, sim, u)
                             for (s, d, rt), (v, sim, u) in self.edges.items()),
            "dropped": self.dropped,
            "same_as": Counter((GRAPH, a, b) for a, b in links),
        }


def shingles(name: str) -> set:
    return {name[i:i + 2] for i in range(len(name) - 1)} if len(name) >= 2 else {name}


def link_rule_violations(names: set, links: dict) -> list:
    """Links that break the linking rule, recomputed here: name_a sorts
    before name_b, and either name_a is a prefix of name_b with at least
    LINK_PREFIX_CHARS chars, or their IDF-weighted char-bigram cosine
    over the graph's distinct names is at least LINK_COSINE."""
    sh = {n: shingles(n) for n in names}
    df = Counter(g for s in sh.values() for g in s)
    idf = {g: math.log(1.0 + len(names) / c) for g, c in df.items()}
    norm = {n: math.sqrt(sum(idf[g] ** 2 for g in s)) for n, s in sh.items()}
    bad = []
    for a, b in links:
        prefix = len(a) >= LINK_PREFIX_CHARS and b.startswith(a)
        cos = sum(idf[g] ** 2 for g in sh[a] & sh[b]) / (norm[a] * norm[b])
        if not (a < b and (prefix or cos >= LINK_COSINE - 1e-9)):
            bad.append((a, b, cos))
    return bad


def canonical_names(links: dict) -> dict:
    """name -> its same_as component's shortest, then least, name."""
    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in links:
        parent[find(a)] = find(b)
    comps: dict = {}
    for n in list(parent):
        comps.setdefault(find(n), []).append(n)
    return {n: min(ms, key=lambda m: (len(m), m)) for ms in comps.values() for n in ms}


def url_hex(spark, urls) -> dict:
    """url -> hex(xxhash64(url)), from Spark's built-in functions."""
    import pandas as pd
    from pyspark.sql import functions as F

    df = spark.createDataFrame(pd.DataFrame({"url": sorted(urls)}), "url string")
    return {r[0]: r[1] for r in df.select("url", F.hex(F.xxhash64("url"))).collect()}


def expected_links(spark, names: set) -> dict:
    """same_as links of the graph's node names, from the public linking
    operator run directly on them: {(name_a, name_b): score}."""
    import pandas as pd
    from knowledge_graph_spark.operators.linking import same_as_edges

    df = spark.createDataFrame(pd.DataFrame({"name": sorted(names)}), "name string")
    return {(r[0], r[1]): r[2] for r in same_as_edges(df).collect()}


def table_rows(spark, wh) -> dict[str, Counter]:
    """The checked tables' rows for the graph, in GraphOracle.tables' shape."""
    cols = {
        "triples": (wh.triples, ("url", "subj", "pred", "obj")),
        "nodes": (wh.nodes, ("graph_id", "user_id", "id", "name", "type", "url",
                             "canonical_id")),
        "edges": (wh.edges, ("graph_id", "user_id", "src", "dst", "rel_type", "verb",
                             "similarity", "url")),
        "dropped": (wh.dropped, ("graph_id", "url", "src", "dst", "type", "verb",
                                 "similarity", "reason")),
        "same_as": (wh.same_as, ("graph_id", "name_a", "name_b", "score")),
    }
    out = {}
    for name, (table, cs) in cols.items():
        rows = table.read(spark).filter(f"graph_id = '{GRAPH}'").select(*cs).collect()
        out[name] = Counter(tuple(r) for r in rows)
    return out


def check_tables(got: dict, want: dict, links: dict) -> dict[str, bool]:
    """Table by table: multiset equality; same_as scores within 1e-9."""
    ok = {}
    for name, exp in want.items():
        rows = got[name]
        if name == "same_as":
            ok[name] = (Counter(r[:3] for r in rows) == exp and all(
                abs(r[3] - links[r[1:3]]) <= 1e-9 for r in rows))
        else:
            ok[name] = rows == exp
        if not ok[name]:
            log(f"check.{name}: {sum(rows.values())} rows, expected "
                f"{sum(exp.values())}; {len(rows - exp)} unexpected, "
                f"{len(exp - rows)} missing")
    return ok


def canon(rows) -> list[tuple]:
    """Rows as plain-Python tuples in a fixed order (None sorts too)."""
    return sorted((tuple(v.item() if hasattr(v, "item") else v for v in r) for r in rows),
                  key=repr)


def digest(obj) -> str:
    return hashlib.sha256(repr(obj).encode()).hexdigest()[:16]


def expected_reads(want: dict) -> dict:
    """The read mix's answers, computed from the oracle's node and edge
    rows with pandas."""
    import pandas as pd

    nodes = pd.DataFrame(list(want["nodes"].elements()), dtype=object, columns=(
        "graph_id", "user_id", "id", "name", "type", "url", "canonical_id"))
    edges = pd.DataFrame(list(want["edges"].elements()), dtype=object, columns=(
        "graph_id", "user_id", "src", "dst", "rel_type", "verb", "similarity", "url"))
    gn = nodes[nodes.graph_id == GRAPH].drop_duplicates("id")
    ge = edges[edges.graph_id == GRAPH]
    ids = set(gn.id)

    def label(e):
        return e.verb if e.verb not in (None, "") else e.rel_type

    links = [(e.src, e.dst, e.rel_type, label(e), e.verb, e.similarity,
              e.graph_id, e.user_id, e.url)
             for e in ge.itertuples() if e.src in ids and e.dst in ids]
    doc_nodes = {x for link in links for x in link[:2]} if links else ids
    un = nodes[nodes.user_id == USER]
    q4 = [(g, canon((n.id, n.name, n.type) for n in un[un.graph_id == g].itertuples()),
           canon((e.src, e.dst, e.rel_type, label(e))
                 for e in edges[edges.graph_id == g].itertuples()))
          for g in set(un.graph_id)]
    out_d, in_d = Counter(ge.src), Counter(ge.dst)
    return {
        "q1": digest((canon(links), sorted(doc_nodes))),
        "q4": digest(sorted(q4, key=repr)),
        "q6": digest(canon((n.graph_id, n.id, n.name)
                           for n in un.itertuples() if KEYWORD in n.name)),
        "degrees": digest(canon((n.id, n.name, out_d[n.id], in_d[n.id],
                                 out_d[n.id] + in_d[n.id]) for n in gn.itertuples())),
    }


# ---- the read mix --------------------------------------------------------

def ask(spark, wh, q: str):
    """One request against fresh LakeTable frames, as the API serves it."""
    from knowledge_graph_spark.operators import queries as Q

    nodes, edges = wh.nodes.read(spark), wh.edges.read(spark)
    if q == "q1":
        return Q.query_graph(spark, nodes, edges, GRAPH)
    if q == "q4":
        return Q.query_graphs_by_user(nodes, edges, USER).collect()
    if q == "q6":
        return Q.search_entities_by_keyword(nodes, USER, KEYWORD).collect()
    return Q.node_degrees(nodes, edges, GRAPH).collect()


def answer_digest(q: str, ans) -> tuple[str, int]:
    """(order-insensitive digest, rows returned) of one answer."""
    if q == "q1":
        links = canon((x["source"], x["target"], x["type"], x["label"], x["verb"],
                       x["similarity"], x["graph_id"], x["user_id"], x["url"])
                      for x in ans["links"])
        return digest((links, sorted(n["id"] for n in ans["nodes"]))), len(ans["links"])
    if q == "q4":
        return digest(sorted(((r["graph_id"], canon(r["nodes"]), canon(r["links"]))
                              for r in ans), key=repr)), \
            sum(len(r["links"]) + len(r["nodes"]) for r in ans)
    if q == "q6":
        return digest(canon((r["graph_id"], r["id"], r["name"]) for r in ans)), len(ans)
    return digest(canon(ans)), len(ans)


def serve(spark, wh, tracer, seconds: float, ops: list, expected: dict):
    """Closed loop, one client, rounds of one request of each read,
    until ``seconds`` have passed and MIN_ROUNDS are done. Every answer
    is checked, outside the measured interval. Returns per-query walls,
    per-query CPU seconds and rows returned."""
    walls, cpus, rows = {q: [] for q in READS}, {q: [] for q in READS}, {}
    t_end = time.perf_counter() + seconds
    while len(walls[READS[0]]) < MIN_ROUNDS or time.perf_counter() < t_end:
        for q in READS:
            with tracer.span(f"queries.{q}", "queries", group=f"queries.{q}"):
                c0, t0 = tree_cpu_s(), time.perf_counter()
                try:
                    ans = ask(spark, wh, q)
                except Exception:  # noqa: BLE001 - a failed read is counted
                    traceback.print_exc()
                    ans = None
                walls[q].append(time.perf_counter() - t0)
                cpus[q].append(tree_cpu_s() - c0)
            ok = ans is not None
            if ok:
                got, rows[q] = answer_digest(q, ans)
                ok = got == expected[q]
            ops.append((f"read.{q}", ok))
    return walls, cpus, rows


# ---- catalogue (traced runs) ------------------------------------------------

def catalog(spark, tracer, ops: list) -> dict:
    """The 11 catalogue queries at sf0.01, full output collected, each
    checked against its row count and value hash in docs/SWEEP_r5.json."""
    import __spark_entry__ as entry
    from tools.check_oracles import value_hash

    with open(os.path.join(ROOT, "docs", "SWEEP_r5.json"), encoding="utf-8") as f:
        pins = json.load(f)["queries"]
    qs = entry.queries()
    walls = {}
    for q in CATALOG["graph"] + CATALOG["kg"]:
        with tracer.span(f"catalog.{q}", "catalog", group=f"catalog.{q}"):
            t0 = time.perf_counter()
            df = qs[q](spark, SF_DIR)
            rows = df.collect()
            walls[q] = time.perf_counter() - t0
        ok = (len(rows) == pins[q]["rows"]
              and value_hash(rows, df.columns) == pins[q]["value_hash"])
        ops.append((f"catalog.{q}", ok))
    return walls


# ---- environment -----------------------------------------------------------------

def proc_tree(root: int) -> list[int]:
    parent = {}
    for p in os.listdir("/proc"):
        if p.isdigit():
            try:
                with open(f"/proc/{p}/stat") as f:
                    parent[int(p)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                pass
    tree, todo = [], [root]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo += [c for c, pp in parent.items() if pp == pid]
    return tree


def peak_rss_mb() -> float:
    """Sum of VmHWM over this process, the JVM and its Python workers."""
    kb = 0
    for pid in proc_tree(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as f:
                kb += next(int(l.split()[1]) for l in f if l.startswith("VmHWM"))
        except (OSError, StopIteration):
            pass
    return kb / 1024


def tree_cpu_s() -> float:
    """CPU seconds (user + system, reaped children included) this
    process, the JVM and its Python workers have used so far."""
    ticks = 0
    for pid in proc_tree(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                ticks += sum(int(x) for x in f.read().rsplit(")", 1)[1].split()[11:15])
        except OSError:
            pass
    return ticks / os.sysconf("SC_CLK_TCK")


def steal_s() -> float:
    """CPU seconds the hypervisor has stolen from this host so far."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def snapshot_files(table) -> tuple[int, int]:
    """(files, bytes) of a LakeTable's current snapshot, from its manifest."""
    with open(table.manifest_path, encoding="utf-8") as f:
        m = json.load(f)
    entry = next(e for e in reversed(m["lineage"]) if e["snapshot"] == m["current"])
    dirs = ([p for ps in entry["partition_dirs"].values() for p in ps]
            if entry.get("partition_dirs") is not None else [entry["snapshot"]])
    files = nbytes = 0
    for d in dirs:
        for base, _, names in os.walk(os.path.join(table.dir, d)):
            for n in names:
                if not n.startswith((".", "_")):
                    files += 1
                    nbytes += os.path.getsize(os.path.join(base, n))
    return files, nbytes


def start_spark(cores: int, trace: bool, work: str):
    """The program's own session (get_spark defaults, driver heap
    included); only scratch locations, console output and, when
    tracing, the event log are set here."""
    from knowledge_graph_spark.session import get_spark
    from tracing import event_log_conf

    tmp = os.path.join(work, "tmp")
    extra = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": tmp,
        # -Xmn1g: a fixed young generation. G1 otherwise sizes the heap
        # from pause timings, and a run whose heap stayed small spent up
        # to 40% more CPU in collections. -XX:-UsePerfData: no
        # /tmp/hsperfdata file, the run writes only inside its checkout
        "spark.driver.extraJavaOptions":
            f"-Xmn1g -XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    }
    if trace:
        os.makedirs(os.path.join(work, "events"))
        extra.update(event_log_conf(os.path.join(work, "events")))
    return get_spark(app="perfbench", master=f"local[{cores}]",
                     shuffle_partitions=cores, extra=extra)


def stop_spark(spark) -> None:
    """Stop Spark, the JVM and its Python workers, and wait for them."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    kids = [p for p in proc_tree(os.getpid()) if p != os.getpid()]
    spark.stop()
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.time() + 30
    for pid in kids:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.1)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass
        try:
            os.waitpid(pid, 0)
        except ChildProcessError:
            pass


# ---- workloads ----------------------------------------------------------------

def run(args, work: str) -> tuple[dict, dict, list]:
    from knowledge_graph_spark.pipeline import KGWarehouse, run_pipeline
    from tracing import SPARK_UNITS, STAGES, Tracer, instrument, summarize_event_log

    cores = len(os.sched_getaffinity(0))
    phases, clock = {}, [time.perf_counter()]

    def lap(name: str) -> None:
        now = time.perf_counter()
        phases[name] = round(now - clock[0], 3)
        clock[0] = now

    spark = start_spark(cores, args.trace, work)
    lap("session")
    tracer = Tracer(spark)
    if args.trace:  # untraced runs call the package unwrapped
        instrument(tracer)
    ops: list = []
    try:
        # ---- set-up: prepare the inputs SETUP_REPS times, keep the
        # median; then the JVM's first pipeline run (build: a warm-up on
        # other urls into a throwaway warehouse, update: the base graph)
        build = args.workload == "build"
        setup_walls = []
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            if build:
                first = page_rows(args.seed, WARMUP_PAGES, start=BUILD_PAGES)
                timed = page_rows(args.seed, BUILD_PAGES)
            else:
                first = page_rows(args.seed, UPDATE_BASE_PAGES)
                timed = recrawl_rows(args.seed, UPDATE_BASE_PAGES, UPDATE_BATCH_PAGES)
            first_df = land(spark, first, os.path.join(work, "first"))
            timed_df = land(spark, timed, os.path.join(work, "timed"))
            setup_walls.append(time.perf_counter() - t0)
        lap("inputs")

        def write(wh, pages_df, **kw):
            t0 = time.perf_counter()
            with tracer.span("pipeline.run", "pipeline"):
                try:
                    counters = run_pipeline(spark, pages_df, wh, graph_id=GRAPH,
                                            user_id=USER, partitions=cores,
                                            link_entities=True, **kw)
                finally:
                    tracer.stage(None)
            return time.perf_counter() - t0, counters

        wh = KGWarehouse(os.path.join(work, "wh"))
        first_s = write(KGWarehouse(os.path.join(work, "warmup")) if build else wh,
                        first_df)[0]
        lap("first_write")

        # ---- the timed write
        tracer.enabled, tracer.op = bool(args.trace), "write"
        cpu0, steal0 = tree_cpu_s(), steal_s()
        write_s, counters = write(wh, timed_df, **({} if build else
                                                    {"batch_suffix": "recrawl"}))
        write_cpu_s, write_steal_s = tree_cpu_s() - cpu0, steal_s() - steal0
        tracer.enabled = False
        lap("write")

        # ---- oracle: the kernel on every page set the warehouse saw,
        # replayed through the MERGE rules
        tracer.enabled, tracer.op = bool(args.trace), "oracle"
        runs = [timed] if build else [first, timed]
        kernel = [kernel_results(rows, tracer) for rows in runs]
        tracer.enabled = False
        n_docs = sum(len(rows) for rows in runs)
        kernel_rates = {
            "kernel.html2text_docs_per_s": n_docs / sum(k[1] for k in kernel),
            "kernel.extract_docs_per_s": n_docs / sum(k[2] for k in kernel),
        }
        oracle = GraphOracle(url_hex(spark, {r["url"] for rows in runs for r in rows}))
        for rows, (results, _, _) in zip(runs, kernel):
            oracle.apply(rows, results)
        lap("oracle")

        # ---- checks: run_pipeline's counters, then every graph table
        exp = oracle.counters()
        got = {c: counters.get(c) for c in exp}
        ops.append(("write.counters", got == exp))
        if got != exp:
            log(f"run_pipeline counters {got}, expected {exp}")
        names = {n for n, _, _ in oracle.nodes.values()}
        links = expected_links(spark, names)
        bad = link_rule_violations(names, links)
        ops.append(("check.link_rule", not bad))
        if bad:
            log(f"links breaking the linking rule: {bad[:5]}")
        want = oracle.tables(links)
        for name, ok in check_tables(table_rows(spark, wh), want, links).items():
            ops.append((f"check.{name}", ok))
        fp = {name: digest(canon(rows.elements())) for name, rows in want.items()}
        expected = expected_reads(want)
        lap("checks")

        tracer.enabled, tracer.op = bool(args.trace), "serve"
        steal0 = steal_s()
        reads, read_cpus, rows_out = serve(spark, wh, tracer, args.seconds, ops, expected)
        read_steal_s = steal_s() - steal0
        lap("reads")
        cat = {}
        if args.trace and build:
            tracer.op = "catalog"
            cat = catalog(spark, tracer, ops)
            lap("catalog")
        tracer.enabled = False

        tables = {os.path.basename(t.dir): snapshot_files(t) for t in wh.tables()}
        stored = sum(b for _, b in tables.values())
        final_rows = list({r["url"]: r for rows in runs for r in rows}.values())
        rss = peak_rss_mb()
        jvm = spark.sparkContext._jvm.java.lang.System
        env = {
            "cores": cores, "host_cpus": os.cpu_count(),
            "default_parallelism": spark.sparkContext.defaultParallelism,
            "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
            "driver_memory": spark.conf.get("spark.driver.memory"),
            "pyspark": spark.version,
            "java": f"{jvm.getProperty('java.vendor')} {jvm.getProperty('java.version')}",
            "first_write_pages": len(first), "timed_write_pages": len(timed),
            "graph_pages": len(final_rows),
            "input_bytes": input_bytes(final_rows),
            "catalog_sf": "0.01" if cat else None,
        }
    finally:
        stop_spark(spark)
    lap("stop")

    n_triples = sum(oracle.triples.values())
    all_reads = [w for q in READS for w in reads[q]]
    all_cpus = [c for q in READS for c in read_cpus[q]]
    p50 = {q: statistics.median(reads[q]) for q in READS}
    # CPU seconds of this process, the JVM and its Python workers: on a
    # shared host they move far less with the neighbours' load than walls
    e2e = {
        # median input preparation, plus the JVM's first pipeline run
        "setup_s": (statistics.median(setup_walls) + first_s, "s"),
        "write_cpu_s": (write_cpu_s, "s"),
        "stored_bytes_per_input_byte": (stored / input_bytes(final_rows), "ratio"),
        "read_cpu_s": (statistics.fmean(all_cpus), "s"),  # per request
    }
    report = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "env": env, "phases_s": phases,
        "headline": {
            ("build_s" if build else "update_batch_s"): write_s,
            "triples_per_s": n_triples / write_s,
            ("warmup_build_s" if build else "base_build_s"): first_s,
            "read_request_s": statistics.fmean(all_reads),
            "serve_p50_s": statistics.median(all_reads),
            "serve_samples": len(all_reads),
            **{f"{READ_NAMES[q]}_p50_s": p50[q] for q in READS},
            "catalog_graph_s": sum(cat.get(q, 0) for q in CATALOG["graph"]) or None,
            "catalog_kg_s": sum(cat.get(q, 0) for q in CATALOG["kg"]) or None,
            "error_rate": sum(not ok for _, ok in ops) / len(ops),
            "peak_rss_mb": rss,
            # CPU time the hypervisor gave to other guests meanwhile
            "write_steal_s": write_steal_s, "read_steal_s": read_steal_s,
        },
        "fingerprints": fp, "triples": n_triples, "same_as_links": len(links),
        "failed_ops": [name for name, ok in ops if not ok],
    }
    if not args.trace:
        return e2e, report, ops

    spans_path = os.path.join(WORK, f"spans-{args.workload}-{args.seed}.jsonl")
    tracer.dump(spans_path)
    report["spans"] = os.path.relpath(spans_path, ROOT)
    groups = summarize_event_log(os.path.join(work, "events"))
    layer = {k: (v, "1/s") for k, v in kernel_rates.items()}
    for st in STAGES:
        layer[f"pipeline.{st}_s"] = (counters["stage_seconds"].get(st, 0.0), "s")
    for t, (files, nbytes) in tables.items():
        layer[f"lake.{t}.commit_s"] = (tracer.seconds(f"lake.{t}.commit"), "s")
        layer[f"lake.{t}.files"] = (files, "count")
        layer[f"lake.{t}.bytes"] = (nbytes, "B")
    layer["lake.vacuum_s"] = (tracer.seconds("lake.vacuum"), "s")
    layer["lake.read_s"] = (tracer.seconds("lake.read"), "s")
    layer["lake.metadata_calls"] = (tracer.counts["lake.metadata_calls"], "count")
    for st in STAGES:
        for k, u in SPARK_UNITS.items():
            layer[f"spark.{st}.{k}"] = (groups[f"pipeline.{st}"][k], u)
    for q in READS:  # per request
        for k in ("jobs", "executor_run_s", "shuffle_write_bytes"):
            layer[f"spark.{q}.{k}"] = (groups[f"queries.{q}"][k] / len(reads[q]),
                                       SPARK_UNITS[k])
        layer[f"queries.{q}.rows"] = (rows_out.get(q, 0), "count")
        layer[f"queries.{q}.p50_s"] = (p50[q], "s")
        layer[f"queries.{q}.cpu_s"] = (statistics.median(read_cpus[q]), "s")
    for q in CATALOG["graph"] + CATALOG["kg"]:
        layer[f"catalog.{q}_s"] = (cat.get(q, 0.0), "s")
        layer[f"spark.catalog.{q}.jobs"] = (groups[f"catalog.{q}"]["jobs"], "count")
    for name, secs in tracer.self_seconds().items():
        layer[f"self.{name}_s"] = (secs, "s")
    # tracing overhead: these minus the untraced run's on the same seed
    layer["trace.write_s"] = (write_s, "s")
    layer["trace.write_cpu_s"] = (write_cpu_s, "s")
    layer["memory.peak_rss_mb"] = (rss, "MB")
    return layer, report, ops


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("build", "update"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "knowledge_graph_spark", "pipeline.py")):
        log(f"perfbench: no knowledge_graph_spark package next to {HERE}; "
            "run from a full checkout")
        return 2
    sys.path[:0] = [ROOT, HERE]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    # warehouses, event log and Spark/Python scratch stay inside the checkout
    work = os.path.join(WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(SPARK_LOCAL_DIRS=tmp, TMPDIR=tmp, PYTHONHASHSEED="0")
    try:
        metrics, report, ops = run(args, work)
    except Exception:  # noqa: BLE001 - no result line on a crashed run
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    failed = sum(not ok for _, ok in ops)
    print(json.dumps(report, ensure_ascii=False, default=str))
    print(json.dumps({
        "correct": failed == 0, "attempted": len(ops), "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
