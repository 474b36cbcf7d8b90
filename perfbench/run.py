"""Paper-pipeline benchmark: OWL full load, ontology refresh and graph lookup.

Usage (from the repository root):

    python3 perfbench/run.py --workload obo_full_load --seed 1 --seconds 20 --trace 0

Workloads (see perfbench/README.md for why each exists):

- ``obo_full_load``: OWL files -> ``ontology_graph_from_owl`` -> ``write_graph``
  -> ``upsert_graph_via_transport`` -> ``build_inverted_index``, from scratch.
- ``obo_refresh``: a new release of one ontology arrives through
  ``update_downloads``; the graph is rebuilt, diffed against the store with
  ``snapshot_diff``, and only the changes go to ``upsert_parquet`` and the wire.
- ``graph_lookup``: one closed-loop client looks tokens up in the inverted
  index and reads the matching vertices and their out-edges from the store.

The session runs ``local[nproc]`` in this one process.  The corpus is generated
from ``--seed`` before timing starts.  Each operation's output is checked
against answers the generator derived on its own; a failed check counts into
``failed``.  With ``--trace 0`` the last line of output carries the end-to-end
metrics; with ``--trace 1`` a second, traced pass follows the untraced one and
the last line carries the per-layer metrics, while the spans and status-store
statistics go to ``perfbench/.work/trace-<workload>-<seed>.json``.  The line
before the last one repeats the workload's figures under per-workload names
(``load_s``, ``refresh_docs_per_s``, ``lookups_per_s``, ...).
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, ROOT)
# Python workers start from the JVM's environment: give them the package too
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
)

from py4j.protocol import Py4JJavaError  # noqa: E402
from pyspark.errors import PySparkException  # noqa: E402
from pyspark.sql import SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from cell_kn_mvp_etl_ontologies_spark.io import replace_parquet_dir  # noqa: E402
from cell_kn_mvp_etl_ontologies_spark.operators.incremental import (  # noqa: E402
    CHANGE_COL,
    snapshot_diff,
)
from cell_kn_mvp_etl_ontologies_spark.plans import build_graph  # noqa: E402
from cell_kn_mvp_etl_ontologies_spark.plans.extract import (  # noqa: E402
    extract_triples,
    ontology_graph_from_owl,
)
from cell_kn_mvp_etl_ontologies_spark.search import (  # noqa: E402
    build_inverted_index,
    edge_ngrams,
    text_en_no_stem_tokens,
)
from cell_kn_mvp_etl_ontologies_spark.session import ENGINE_SQL_CONF, configure  # noqa: E402
from cell_kn_mvp_etl_ontologies_spark.sinks import (  # noqa: E402
    read_graph_vertices,
    upsert_parquet,
    write_graph,
)
from cell_kn_mvp_etl_ontologies_spark.sinks.graph_service import (  # noqa: E402
    upsert_graph_via_transport,
)
from cell_kn_mvp_etl_ontologies_spark.sinks.http_transport import HttpJsonTransport  # noqa: E402
from cell_kn_mvp_etl_ontologies_spark.sources import update_downloads  # noqa: E402
from cell_kn_mvp_etl_ontologies_spark.sources.owl import scan_xml_elements  # noqa: E402
from cell_kn_mvp_etl_ontologies_spark.sources.owl_fixtures import MACROPHAGE_OWL  # noqa: E402

sys.path.insert(0, HERE)
import corpus  # noqa: E402
from service import GraphService  # noqa: E402
from spans import LayerStats, Tracer  # noqa: E402

WORKLOADS = ("obo_full_load", "obo_refresh", "graph_lookup")
N_CLASSES = 800
BATCH = 1000  # documents per wire request (the sink's default)
DB, GRAPH = "Cell-KN-Ontologies", "KN-Ontologies-v2.0"
V_KEYS = ["collection", "key"]
E_KEYS = ["from_collection", "to_collection", "from_key", "to_key"]
MIN_LOOKUPS = 20
P90_SAMPLES = 100  # a p90 with at least ten samples beyond it
N_QUERIES = 4000
WARM_LOOKUPS = 30
TRACED_LOOKUPS = 30
CORPUS_REPEATS = 3
OP = "op"  # root span of one operation; the layer spans are its children


def index_analyzer(col):
    """The search view's ``text_en_no_stem`` analyzer: lowercase, accent-fold,
    whitespace tokens, edge n-grams 3-12 keeping tokens longer than 12."""
    return F.flatten(F.transform(text_en_no_stem_tokens(col), lambda t: edge_ngrams(t, 3, 12, True)))


def vertex_docs(vertices):
    """One document per vertex: its label, synonym and definition text."""
    a = F.col("attrs")
    text = F.concat_ws(" ", *[a[k] for k in corpus.TEXT_ATTRS])
    return vertices.select("collection", "key", text.alias("text"))


def p90(xs: list[float]) -> float:
    return statistics.quantiles(xs, n=10)[8]


def dir_stats(path: str) -> tuple[int, int]:
    """(bytes, parquet files) under ``path``."""
    size = files = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                size += os.path.getsize(os.path.join(dirpath, n))
                files += 1
    return size, files


def start_session() -> SparkSession:
    nproc = len(os.sched_getaffinity(0))
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    builder = (
        SparkSession.builder.master(f"local[{nproc}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(nproc))
        .config("spark.driver.memory", "2g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # the status store keeps every SQL execution's plan description;
        # this pipeline's plans are large, so keep only the recent ones
        .config("spark.sql.ui.retainedExecutions", "20")
        .config("spark.ui.retainedJobs", "500")
        .config("spark.ui.retainedStages", "500")
        .config("spark.ui.retainedTasks", "5000")
        .config("spark.local.dir", os.path.join(WORK, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(WORK, "warehouse"))
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
        .config("spark.sql.session.timeZone", "UTC")
    )
    for key, value in ENGINE_SQL_CONF.items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return configure(spark)


def is_fixture_key(key: str) -> bool:
    """Generated terms are numbered from 1000000; the fixture's are not."""
    return not (len(key) == 7 and key.startswith("1"))


def golden_rows(vertices: list, edges: list) -> bool:
    """The rows tests/test_sources.py::test_owl_graph_end_to_end asserts."""
    mac = [r for r in vertices if (r["collection"], r["key"]) == ("CL", "0000235")]
    out = {
        (r["to_collection"], r["to_key"], tuple(r["labels"]))
        for r in edges
        if (r["from_collection"], r["from_key"]) == ("CL", "0000235")
    }
    return (
        len(mac) == 1
        and mac[0]["attrs"]["label"] == ["macrophage"]
        and len(mac[0]["attrs"]["hasDbXref"]) == 6
        and {
            ("CL", "0000576", ("DEVELOPS_FROM",)),
            ("GO", "0031268", ("CAPABLE_OF",)),
            ("NCBITaxon", "9606", ("PRESENT_IN_TAXON",)),
        }
        <= out
    )


class Bench:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool) -> None:
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    # ------------------------------------------------------------------ setup
    def setup(self) -> None:
        t0 = time.perf_counter()
        if os.path.exists(WORK):
            shutil.rmtree(WORK)
        os.makedirs(WORK)
        os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
        self.spark = start_session()
        self.session_start_s = time.perf_counter() - t0
        self.nproc = len(os.sched_getaffinity(0))
        # backlog of at least the executor task count, so no connection is
        # refused and silently retried
        self.service = GraphService(backlog=max(64, 8 * self.nproc))
        self.untraced = Tracer(self.spark, "untraced", enabled=False)
        self.store = os.path.join(WORK, "store")
        self.index_path = os.path.join(WORK, "index")
        self.corpus_dir = os.path.join(WORK, "corpus")
        gen_times = []
        for _ in range(CORPUS_REPEATS):
            g0 = time.perf_counter()
            shutil.rmtree(self.corpus_dir, ignore_errors=True)
            self.manifest, self.releases = corpus.build(self.seed, N_CLASSES, self.corpus_dir)
            gen_times.append(time.perf_counter() - g0)
        self.v1 = os.path.join(self.corpus_dir, "v1")
        self.v2 = os.path.join(self.corpus_dir, "v2")
        w0 = time.perf_counter()
        getattr(self, "setup_" + self.workload)()
        self.warm_s = time.perf_counter() - w0
        self.setup_s = self.session_start_s + statistics.median(gen_times) + self.warm_s

    def check(self, ok: bool, what: str) -> bool:
        if not ok:
            self.problems.append(what)
        return ok

    def setup_obo_full_load(self) -> None:
        # the package's macrophage fixture rides along with the corpus, so
        # every load also shows the golden rows of
        # tests/test_sources.py::test_owl_graph_end_to_end
        self.load_dir = os.path.join(WORK, "load")
        shutil.copytree(self.v1, self.load_dir)
        with open(os.path.join(self.load_dir, "macrophage.owl"), "w") as f:
            f.write(MACROPHAGE_OWL)

    def setup_obo_refresh(self) -> None:
        # preload: the first release's graph in the store.  The graph service
        # stub keeps no documents, so it needs no preload.
        self.download_dir = os.path.join(WORK, "downloads")
        self.pristine = os.path.join(WORK, "store-v1")
        shutil.copytree(self.v1, self.download_dir)
        self.write_model_store(corpus.expected_graph(self.releases[0]), self.pristine)
        self.urls = [f"{corpus.OBO}{f}" for f in sorted(self.manifest["v2"]["files"])]

    def setup_graph_lookup(self) -> None:
        g = corpus.expected_graph(self.releases[0])
        self.write_model_store(g, self.store)
        self.build_index(self.store)
        self.tokens = corpus.queries(self.seed, self.releases[0], N_QUERIES)
        self.answers = corpus.lookup_answers(g, sorted(set(self.tokens)))
        self.open_store()
        for tok in self.tokens[-WARM_LOOKUPS:]:
            self.lookup(tok, self.untraced)

    def write_model_store(self, g: corpus.Graph, store: str) -> None:
        """The store the pipeline writes for this corpus (every obo_full_load
        run checks the pipeline against the same model), written through
        ``write_graph`` straight from the model."""
        vertices = self.spark.createDataFrame(
            [(c, k, sorted(a.items())) for (c, k), a in sorted(g.vertices.items())],
            "collection string, key string, attrs array<struct<k: string, v: array<string>>>",
        ).select(
            # attrs entries in key order, as the graph build's pivot emits them
            "collection", "key", F.map_from_entries("attrs").alias("attrs")
        )
        edges = self.spark.createDataFrame(
            [(f, t, fk, tk, list(ls), list(ss)) for (f, fk, t, tk), (ls, ss) in sorted(g.edges.items())],
            "from_collection string, to_collection string, from_key string, to_key string, "
            "labels array<string>, sources array<string>",
        )
        write_graph(vertices, edges, store, DB, GRAPH)

    # ---------------------------------------------------------- composition
    def load_graph(self, owl_dir: str, tr: Tracer):
        """``ontology_graph_from_owl``.  When tracing, the same three calls it
        makes are run one by one and each output is materialised at its
        layer boundary, because Spark is lazy."""
        if not tr.enabled:
            return ontology_graph_from_owl(self.spark, owl_dir)
        persisted = []
        with tr.span("sources.owl") as c:
            triples = extract_triples(self.spark, owl_dir, persisted_out=persisted)
            c["triples"] = persisted[0].count()  # the parsed raw triples
            ro_terms = scan_xml_elements(self.spark, owl_dir, glob="ro.owl").persist()
            ro_terms.count()
            persisted.append(ro_terms)
        with tr.span("plans.extract") as c:
            triples = triples.persist()
            persisted.append(triples)
            c["clean_triples"] = triples.count()
        with tr.span("plans.graph_build") as c:
            g = build_graph(triples, ro_terms, persist_clean=True)
            g.vertices, g.edges, g.deprecated = (
                g.vertices.persist(), g.edges.persist(), g.deprecated.persist()
            )
            persisted += [g.vertices, g.edges, g.deprecated]
            g.persisted.extend(persisted)
            c["vertices"] = g.vertices.count()
            c["edges"] = g.edges.count()
            c["deprecated"] = g.deprecated.count()
        return g

    def wire(self, vertices, edges, tr: Tracer) -> None:
        self.service.reset()
        with tr.span("sinks.graph_service") as c:
            try:
                upsert_graph_via_transport(
                    vertices, edges, HttpJsonTransport(self.service.url), batch_size=BATCH
                )
                c["failed_batches"] = 0
            except (Py4JJavaError, PySparkException) as e:
                c["failed_batches"] = 1
                self.problems.append(f"wire upsert failed after retries: {type(e).__name__}")
        after = self.service.counters()
        self.last_wire = {k: after[k] for k in ("requests", "bytes", "docs", "retries")}
        self.last_wire["failed_batches"] = c.get("failed_batches", 0)
        if tr.enabled:
            c.update({k: self.last_wire[k] for k in ("requests", "bytes", "docs", "retries")})

    def build_index(self, store: str, tr: Tracer | None = None) -> None:
        tr = tr or self.untraced
        with tr.span("search"):
            index = build_inverted_index(
                vertex_docs(read_graph_vertices(self.spark, store, DB, GRAPH)),
                V_KEYS,
                "text",
                index_analyzer,
            )
            index.write.mode("overwrite").parquet(self.index_path)

    def full_load(self, owl_dir: str, store: str, tr: Tracer):
        g = self.load_graph(owl_dir, tr)
        with tr.span("sinks.graph.write"):
            write_graph(g.vertices, g.edges, store, DB, GRAPH)
        self.wire(g.vertices, g.edges, tr)
        self.build_index(store, tr)
        return g

    def refresh(self, tr: Tracer) -> dict:
        spark = self.spark
        update_downloads(self.urls, self.download_dir, fetch=self.fetch)
        g = self.load_graph(self.download_dir, tr)
        vpath, epath = f"{self.store}/{DB}/{GRAPH}/vertices", f"{self.store}/{DB}/{GRAPH}/edges"
        old = read_graph_vertices(spark, self.store, DB, GRAPH)
        dv = snapshot_diff(g.vertices, old, V_KEYS).persist()
        de = snapshot_diff(g.edges, spark.read.parquet(epath), E_KEYS).persist()
        # materialised here: the upsert below replaces what they read
        changed = {"vertices": dv.count(), "edges": de.count()}
        live = F.col(CHANGE_COL) != "delete"
        v_up = g.vertices.join(dv.filter(live).select(*V_KEYS), V_KEYS, "left_semi").persist()
        e_up = g.edges.join(de.filter(live).select(*E_KEYS), E_KEYS, "left_semi").persist()
        upsert_parquet(spark, v_up, vpath, V_KEYS, partition_by=["collection"])
        upsert_parquet(spark, e_up, epath, E_KEYS, partition_by=["from_collection", "to_collection"])
        # upsert_parquet has no delete path: rewrite without deleted keys
        for diff, path, keys, parts in (
            (dv, vpath, V_KEYS, ["collection"]),
            (de, epath, E_KEYS, ["from_collection", "to_collection"]),
        ):
            gone = diff.filter(~live).select(*keys)
            if gone.count():
                staging = path + "__staging"
                spark.read.parquet(path).join(gone, keys, "left_anti").write.mode(
                    "overwrite"
                ).partitionBy(*parts).parquet(staging)
                replace_parquet_dir(spark, staging, path)
        self.wire(v_up, e_up, tr)
        for df in (dv, de, v_up, e_up):
            df.unpersist()
        g.unpersist()
        return changed

    def fetch(self, url: str) -> bytes:
        """Local stand-in for the OBO PURL download: serves the second
        release, in which only ``corpus.REFRESH_FILE`` has a new version."""
        with open(os.path.join(self.v2, url.rsplit("/", 1)[-1]), "rb") as f:
            return f.read()

    def open_store(self) -> None:
        self.index = self.spark.read.parquet(self.index_path)
        self.vertices = read_graph_vertices(self.spark, self.store, DB, GRAPH)
        self.edges = self.spark.read.parquet(f"{self.store}/{DB}/{GRAPH}/edges")

    def lookup(self, token: str, tr: Tracer) -> list:
        with tr.span("search.lookup"):
            rows = self.index.filter(F.col("token") == token).select("postings").collect()
        keys = list(rows[0]["postings"][: corpus.MAX_POSTINGS]) if rows else []
        if not keys:
            return []
        pairs = {tuple(k.split("/", 1)) for k in keys}
        colls = sorted({c for c, _ in pairs})
        nums = sorted({k for _, k in pairs})
        with tr.span("sinks.graph.read") as c:
            v = self.vertices.filter(
                F.col("collection").isin(colls) & F.col("key").isin(nums)
            ).collect()
            e = self.edges.filter(
                F.col("from_collection").isin(colls) & F.col("from_key").isin(nums)
            ).collect()
            v = [r for r in v if (r["collection"], r["key"]) in pairs]
            e = [r for r in e if (r["from_collection"], r["from_key"]) in pairs]
            c["results"] = len(v) + len(e)
        label = {corpus.doc_key(r["collection"], r["key"]): r["attrs"]["label"] for r in v}
        out: dict[str, list] = {}
        for r in e:
            out.setdefault(corpus.doc_key(r["from_collection"], r["from_key"]), []).append(
                [r["to_collection"], r["to_key"], list(r["labels"])]
            )
        return [[dk, label.get(dk), sorted(out.get(dk, []))] for dk in keys]

    # ------------------------------------------------------------ operations
    def op_obo_full_load(self, tr: Tracer) -> None:
        g = self.full_load(self.load_dir, self.store, tr)
        self.deprecated_terms = {r["term"] for r in g.deprecated.collect()}
        g.unpersist()

    def check_obo_full_load(self) -> bool:
        m = self.manifest["v1"]
        v, e = self.read_store()
        fixture_v = [r for r in v if is_fixture_key(r["key"])]
        fixture_e = [r for r in e if is_fixture_key(r["from_key"])]
        ok = self.check(golden_rows(fixture_v, fixture_e), "golden macrophage rows")
        ok &= self.check("CL_0000999" in self.deprecated_terms, "golden deprecated term")
        ok &= self.check_store(
            m,
            [r for r in v if not is_fixture_key(r["key"])],
            [r for r in e if not is_fixture_key(r["from_key"])],
        )
        ok &= self.check(len(self.deprecated_terms) == m["deprecated"] + 1, "deprecated count")
        ok &= self.check(
            self.last_wire["docs"] == len(v) + len(e) and not self.last_wire["failed_batches"],
            "documents received by the graph service",
        )
        # the index covers the corpus and the fixture's vertices
        g = corpus.expected_graph(self.releases[0])
        g.vertices.update(
            {(r["collection"], r["key"]): {k: list(x) for k, x in r["attrs"].items()} for r in fixture_v}
        )
        idx = self.spark.read.parquet(self.index_path).agg(
            F.count("*").alias("tokens"), F.sum("n_docs").alias("postings")
        ).first()
        ok &= self.check(
            {"tokens": idx["tokens"], "postings": idx["postings"]} == corpus.expected_index(g),
            "index size",
        )
        return ok

    def read_store(self) -> tuple[list, list]:
        return (
            self.spark.read.parquet(f"{self.store}/{DB}/{GRAPH}/vertices").collect(),
            self.spark.read.parquet(f"{self.store}/{DB}/{GRAPH}/edges").collect(),
        )

    def check_store(self, m: dict, v: list, e: list) -> bool:
        vh = corpus.vertex_hash(
            (r["collection"], r["key"], {k: list(x) for k, x in r["attrs"].items()}) for r in v
        )
        eh = corpus.edge_hash(
            (r["from_collection"], r["from_key"], r["to_collection"], r["to_key"],
             list(r["labels"]), list(r["sources"]))
            for r in e
        )
        return self.check(
            (len(v), len(e), vh, eh) == (m["vertices"], m["edges"], m["vertex_hash"], m["edge_hash"]),
            "store differs from the expected graph",
        )

    def reset_refresh(self) -> None:
        """Back to the preloaded state: first-release downloads and store."""
        shutil.rmtree(self.download_dir)
        shutil.copytree(self.v1, self.download_dir)
        shutil.rmtree(self.store, ignore_errors=True)
        shutil.copytree(self.pristine, self.store)

    def op_obo_refresh(self, tr: Tracer) -> None:
        self.changed = self.refresh(tr)

    def check_obo_refresh(self) -> bool:
        want = self.manifest["refresh_changed"]
        ok = self.check(
            self.changed == {"vertices": want["vertices"], "edges": want["edges"]},
            f"snapshot_diff found {self.changed}, expected {want}",
        )
        ok &= self.check(
            self.last_wire["docs"] == want["docs"] - want["deleted"]
            and not self.last_wire["failed_batches"],
            "changed documents received by the graph service",
        )
        # the merged store must equal a full load of the new release
        return ok & self.check_store(self.manifest["v2"], *self.read_store())

    # ------------------------------------------------------------- measuring
    def measure_loads(self, tr: Tracer, once: bool) -> list[float]:
        """Whole operations until ``seconds`` have passed (at least one)."""
        op = getattr(self, "op_" + self.workload)
        check = getattr(self, "check_" + self.workload)
        times: list[float] = []
        t_end = time.perf_counter() + self.seconds
        while not times or time.perf_counter() < t_end:
            if self.workload == "obo_refresh":
                self.reset_refresh()
            t0 = time.perf_counter()
            with tr.span(OP):
                op(tr)
            times.append(time.perf_counter() - t0)
            self.attempted += 1
            if not check():
                self.failed += 1
            if once:
                break
        return times

    def measure_lookups(self, tr: Tracer, tokens: list[str] | None = None) -> list[float]:
        """All of ``tokens``, or lookups until ``seconds`` have passed."""
        times: list[float] = []
        t_end = time.perf_counter() + self.seconds
        for tok in tokens or self.tokens:
            if tokens is None and len(times) >= MIN_LOOKUPS and time.perf_counter() >= t_end:
                break
            t0 = time.perf_counter()
            with tr.span(OP):
                answer = self.lookup(tok, tr)
            times.append(time.perf_counter() - t0)
            self.attempted += 1
            if not self.check(answer == self.answers[tok], f"lookup answer for {tok!r}"):
                self.failed += 1
        return times

    def measure(self, tr: Tracer, tokens: list[str] | None = None, once: bool = False) -> list[float]:
        """Runs and checks the workload's operations; returns the wall time
        of each."""
        if self.workload == "graph_lookup":
            return self.measure_lookups(tr, tokens)
        return self.measure_loads(tr, once)

    # --------------------------------------------------------------- metrics
    def peak_rss_mb(self) -> float:
        jvm_pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{jvm_pid}/status") as f:
            hwm_kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
        return (hwm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024

    def store_bytes_per_input_byte(self) -> float:
        release = "v2" if self.workload == "obo_refresh" else "v1"
        return dir_stats(f"{self.store}/{DB}/{GRAPH}")[0] / self.manifest[release]["bytes"]

    def end_to_end(self, times: list[float]) -> tuple[dict, dict]:
        """(metrics named in BENCHMARK.json, the same figures under
        per-workload names)."""
        p50 = statistics.median(times)
        if self.workload == "obo_full_load":
            items = self.manifest["v1"]["triples"] / p50
            named = {"load_s": (p50, "s"), "load_triples_per_s": (items, "1/s")}
        elif self.workload == "obo_refresh":
            items = self.manifest["refresh_changed"]["docs"] / p50
            named = {"refresh_s": (p50, "s"), "refresh_docs_per_s": (items, "1/s")}
        else:
            items = len(times) / sum(times)
            named = {"lookup_p50_ms": (p50 * 1e3, "ms"), "lookups_per_s": (items, "1/s")}
            if len(times) >= P90_SAMPLES:
                named["lookup_p90_ms"] = (p90(times) * 1e3, "ms")
        common = {
            "setup_s": (self.setup_s, "s"),
            "peak_rss_mb": (self.peak_rss_mb(), "MB"),
            "store_bytes_per_input_byte": (self.store_bytes_per_input_byte(), "ratio"),
        }
        metrics = {
            **common,
            "op_ms": (p50 * 1e3, "ms"),
            "items_per_s": (items, "1/s"),
        }
        named.update(common)
        return metrics, named

    def per_layer(self, untraced: list[float], traced: list[float], tracer: Tracer) -> dict:
        """Per-layer metrics of the traced pass; ``untraced`` timed the same
        work without tracing."""
        layers = tracer.layer_stats()

        def layer(name: str) -> LayerStats:
            return layers.get(name, LayerStats())

        owl, ext, gb = layer("sources.owl"), layer("plans.extract"), layer("plans.graph_build")
        wr, rd = layer("sinks.graph.write"), layer("sinks.graph.read")
        gs, idx, lk = layer("sinks.graph_service"), layer("search"), layer("search.lookup")
        m: dict[str, tuple[float, str]] = {}
        m["session.start_s"] = (self.session_start_s, "s")
        m["session.warm_s"] = (self.warm_s, "s")
        m["sources.owl.parse_s"] = (owl.s, "s")
        m["sources.owl.cpu_s"] = (owl.cpu_s, "s")
        m["sources.owl.max_task_s"] = (owl.max_task_s, "s")
        m["sources.owl.triples"] = (owl.counts.get("triples", 0), "count")
        m["plans.extract.s"] = (ext.s, "s")
        m["plans.extract.cpu_s"] = (ext.cpu_s, "s")
        m["plans.extract.shuffle_mb"] = (ext.shuffle_mb, "MB")
        m["plans.extract.clean_triples"] = (ext.counts.get("clean_triples", 0), "count")
        m["plans.graph_build.s"] = (gb.s, "s")
        m["plans.graph_build.cpu_s"] = (gb.cpu_s, "s")
        m["plans.graph_build.gc_s"] = (gb.gc_s, "s")
        m["plans.graph_build.shuffle_mb"] = (gb.shuffle_mb, "MB")
        m["plans.graph_build.spill_mb"] = (gb.spill_mb, "MB")
        m["plans.graph_build.tasks"] = (gb.tasks, "count")
        for k in ("vertices", "edges", "deprecated"):
            m[f"plans.graph_build.{k}"] = (gb.counts.get(k, 0), "count")
        store_bytes, store_files = dir_stats(f"{self.store}/{DB}/{GRAPH}")
        wrote = wr.calls > 0
        m["sinks.graph.write_s"] = (wr.s, "s")
        m["sinks.graph.bytes_written"] = (store_bytes if wrote else 0, "B")
        m["sinks.graph.files_written"] = (store_files if wrote else 0, "count")
        n_lookups = max(lk.calls, 1)
        m["sinks.graph.read_ms"] = (rd.s / n_lookups * 1e3, "ms")
        results = rd.counts.get("results", 0)
        m["sinks.graph.rows_scanned_per_result"] = (rd.input_records / results if results else 0, "ratio")
        req = gs.counts.get("requests", 0)
        m["sinks.graph_service.s"] = (gs.s, "s")
        m["sinks.graph_service.requests"] = (req, "count")
        m["sinks.graph_service.bytes"] = (gs.counts.get("bytes", 0), "B")
        m["sinks.graph_service.docs_per_request"] = (gs.counts.get("docs", 0) / req if req else 0, "ratio")
        m["sinks.graph_service.retries"] = (gs.counts.get("retries", 0), "count")
        m["sinks.graph_service.failed_batches"] = (gs.counts.get("failed_batches", 0), "count")
        m["search.index_s"] = (idx.s, "s")
        tokens = postings = 0
        if idx.calls:
            row = self.spark.read.parquet(self.index_path).agg(
                F.count("*").alias("t"), F.sum("n_docs").alias("p")
            ).first()
            tokens, postings = row["t"], row["p"]
        m["search.tokens"] = (tokens, "count")
        m["search.postings"] = (postings, "count")
        m["search.lookup_ms"] = (lk.s / n_lookups * 1e3, "ms")
        m["trace_overhead_frac"] = ((sum(traced) - sum(untraced)) / sum(untraced), "frac")
        layer_sum = sum(v.s for k, v in layers.items() if k != OP)
        m["trace.layer_time_frac"] = (layer_sum / sum(traced), "frac")
        m["failed_frac"] = (self.failed / self.attempted, "frac")
        tracer.write(
            os.path.join(WORK, f"trace-{self.workload}-{self.seed}.json"),
            layers,
            {"workload": self.workload, "seed": self.seed, "metrics": m},
        )
        return m

    # ------------------------------------------------------------------- run
    def run(self) -> dict:
        self.setup()
        untraced = self.measure(self.untraced)
        metrics, named = self.end_to_end(untraced)
        if self.trace:
            # a traced pass and an untraced pass of the same work, both after
            # the first (cold) pass, so that their difference is the tracing
            tracer = Tracer(self.spark, f"traced-{self.seed}")
            tokens = None
            if self.workload == "graph_lookup":
                tokens = self.tokens[: min(TRACED_LOOKUPS, len(untraced))]
            traced = self.measure(tracer, tokens, once=True)
            base = self.measure(self.untraced, tokens, once=True)
            metrics = self.per_layer(base, traced, tracer)
            named["trace_overhead_frac"] = metrics["trace_overhead_frac"]
        named["failed_frac"] = (self.failed / self.attempted, "frac")
        print(json.dumps({"workload": self.workload, "seed": self.seed, "problems": self.problems[:10],
                          "report": {k: {"value": v, "unit": u} for k, (v, u) in named.items()}}))
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }

    def close(self) -> None:
        """Stop the service, the session and the JVM, and wait for them."""
        if hasattr(self, "service"):
            self.service.close()
        if hasattr(self, "spark"):
            gateway = self.spark.sparkContext._gateway
            self.spark.stop()
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
                proc.wait(timeout=60)


def main() -> None:
    ap = argparse.ArgumentParser(description="Paper-pipeline benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.workload == "obo_refresh" and args.trace:
        # more than one refresh in a process, or a traced one, runs out of
        # the 2 GB driver heap inside upsert_parquet (see README.md)
        ap.error("--trace 1 is not supported for obo_refresh")
    bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        result = bench.run()
    finally:
        bench.close()
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
