"""The benchmark's workloads. Each op is one complete user-visible job run
by a single closed-loop client; ``op`` is the timed part, ``check`` the
untimed correctness gate, which returns a list of defects (empty = ok).

The program calls its layers through module attributes (``run_pipeline``
calls ``pipeline.triples_stage`` and ``incremental.incremental_revalidate``,
``execute_plugin`` calls ``execute.validate``, ...), so the traced phase
wraps exactly those calls (``patches``) and runs the same code path as the
untraced one.
"""

from __future__ import annotations

import os
import shutil
from collections import Counter

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import cmem_plugin_pyshacl_spark.plans.execute as ex
import cmem_plugin_pyshacl_spark.plans.incremental as inc
import cmem_plugin_pyshacl_spark.plans.pipeline as pl
import cmem_plugin_pyshacl_spark.sources.io as rdf_io
import cmem_plugin_pyshacl_spark.sources.sinks as sinks
from cmem_plugin_pyshacl_spark.data_model import (
    EX,
    RDF_TYPE,
    SH,
    XSD_INTEGER,
    iri,
    lit_typed,
    triples_from_rows,
)
from cmem_plugin_pyshacl_spark.fixtures import (
    CUSTOMER_SHAPES_ALL,
    GRAPH,
    derive_customer_graph,
    shapes_graph,
)
from cmem_plugin_pyshacl_spark.sources.pages import pages_from_ids

import gen
import oracle
from tracing import Patch, persist_count

SHAPES_G = "urn:graph:shapes"
REPORT_G = "urn:graph:report"
VOID_DATASET = "http://rdfs.org/ns/void#Dataset"
SHAPE_CATALOG = "https://vocab.eccenca.com/shui/ShapeCatalog"
SH_RESULT_LINE = f"<{RDF_TYPE}> <{SH}ValidationResult>"

# Per-workload input sizes. The engine's per-call cost is dominated by
# Spark job count and query planning rather than data volume at these
# sizes, so they are chosen to keep one op short, not to stress throughput.
SCALES = {
    "kg_build": {"batch_pages": 2000, "batches": 10},
    "plugin_validate": {"customers": 500},
    "tiny": {"batch_pages": 100, "batches": 6, "customers": 60},
}


def _kg_shapes(spark):
    """Organisations must have ex:basedIn (violated by organisations only
    seen in worksAt); persons must have ex:worksAt (never violated)."""
    rows = []
    for name, target, path in [
        ("OrganizationShape", EX + "Organization", EX + "basedIn"),
        ("PersonShape", EX + "Person", EX + "worksAt"),
    ]:
        sid, pid = EX + name, EX + name + "-p"
        rows += [
            (sid, RDF_TYPE, iri(SH + "NodeShape")),
            (sid, SH + "targetClass", iri(target)),
            (sid, SH + "property", iri(pid)),
            (pid, SH + "path", iri(path)),
            (pid, SH + "minCount", lit_typed("1", XSD_INTEGER)),
        ]
    return triples_from_rows(spark, rows, graph="urn:graph:kgshapes")


def _sparql_shapes_rows():
    """The three sh:sparql constraints of ``__spark_entry__.q_shacl_sparql``:
    more than one email, age >= 75, and a GRAPH-scoped senior band through
    a declared sh:SPARQLFunction."""
    sel_multi = (
        "SELECT $this (COUNT(?e) AS ?n) WHERE { "
        f"$this <{EX}email> ?e }} GROUP BY $this HAVING (?n > 1)"
    )
    sel_old = f"SELECT $this ?age WHERE {{ $this <{EX}age> ?age . FILTER (?age >= 75) }}"
    sel_fn_graph = (
        f"SELECT $this ?age WHERE {{ GRAPH <{GRAPH}> {{ $this <{EX}age> ?age }} "
        f"FILTER (<{EX}double>(?age) >= 120 && ?age < 75) }}"
    )
    shape = EX + "AFShape"
    rows = [
        (shape, RDF_TYPE, iri(SH + "NodeShape")),
        (shape, SH + "targetClass", iri(EX + "Customer")),
    ]
    for node, select, msg in [
        ("urn:af:multiEmail", sel_multi, "too many emails"),
        ("urn:af:tooOld", sel_old, "age out of range"),
        ("urn:af:fnGraph", sel_fn_graph, "senior band"),
    ]:
        rows += [
            (shape, SH + "sparql", iri(node)),
            (node, SH + "select", lit_typed(select)),
            (node, SH + "message", lit_typed(msg)),
        ]
    rows += [
        (EX + "double", RDF_TYPE, iri(SH + "SPARQLFunction")),
        (EX + "double", SH + "select", lit_typed("SELECT (?v * 2 AS ?out) WHERE {}")),
        (EX + "double", SH + "parameter", iri("urn:af:fp0")),
        ("urn:af:fp0", SH + "path", iri(EX + "v")),
    ]
    return rows


def _write_parquet(rows, schema: pa.Schema, path: str):
    """Write tuples as parquet without a Spark job: the tables are small,
    and a Spark write costs seconds of fixed job overhead."""
    table = pa.Table.from_pylist([dict(zip(schema.names, r)) for r in rows], schema=schema)
    os.makedirs(path)
    pq.write_table(table, f"{path}/part-00000.parquet")


CUSTOMER = pa.schema([("c_custkey", pa.int64()), ("c_name", pa.string()),
                      ("c_mktsegment", pa.string()), ("c_nationkey", pa.int64())])


def _customer_graph(spark, rows, d: str):
    """The ``fixtures.derive_customer_graph`` data graph over the generated
    customer and nation tables, written under ``d/tables``."""
    _write_parquet(rows, CUSTOMER, f"{d}/tables/customer.parquet")
    _write_parquet([(n,) for n in range(gen.N_NATIONS)],
                   pa.schema([("n_nationkey", pa.int64())]), f"{d}/tables/nation.parquet")
    return derive_customer_graph(spark, f"{d}/tables")


def _dir_mb(path: str) -> float:
    return sum(
        os.path.getsize(os.path.join(root, f))
        for root, _, files in os.walk(path)
        for f in files
    ) / 2**20


class Workload:
    name = ""
    warm_ops = 1  # ops 0 .. warm_ops-1 run during set-up, untimed as ops
    items_per_op = 1  # the work items_per_s counts

    def __init__(self, spark, seed: int, scale: dict, d: str, tracer):
        self.spark, self.seed, self.scale, self.d = spark, seed, scale, d
        self.tracer = tracer

    @property
    def capacity(self) -> int:
        """How many distinct ops the generated inputs support, warm-up
        ops included."""
        raise NotImplementedError

    def generate(self) -> None:
        """Write every input file under ``self.d`` (set-up, timed)."""
        raise NotImplementedError

    def warm_up(self) -> list[str]:
        """Warm-up counted in set-up time: the warm-up ops and their checks."""
        return [e for i in range(self.warm_ops) for e in self.check(i, self.op(i))]

    def op(self, i: int):
        raise NotImplementedError

    def check(self, i: int, out) -> list[str]:
        return []

    def patches(self, tracer) -> list[Patch]:
        """Layer calls the traced phase wraps in spans."""
        return []


# ---------------------------------------------------------------------------
class KgBuild(Workload):
    """pages parquet -> fused extraction UDF -> unique relations -> CC
    canonicalisation -> triples checkpoint -> validation with incremental
    state -> state commit -> partition reports: ``run_pipeline`` with an
    output directory of its own per batch and ``incremental=True``, so the
    batch's build leaves the state a later run would revalidate against."""

    name = "kg_build"
    warm_ops = 1  # the first op after a cold start runs ~2x slow

    def __init__(self, *args):
        super().__init__(*args)
        self.starts = gen.page_windows(self.seed, self.scale["batches"], self.scale["batch_pages"])
        self.items_per_op = self.scale["batch_pages"]

    @property
    def capacity(self):
        return self.scale["batches"]

    def generate(self):
        b, n = self.scale["batch_pages"], self.scale["batches"]
        idx = self.spark.range(0, n * b, 1, self.spark.sparkContext.defaultParallelism)
        start = F.element_at(
            F.array(*[F.lit(s) for s in self.starts]), (F.col("id") / b).cast("int") + 1
        )
        batch_of = F.create_map(
            *[x for k, s in enumerate(self.starts) for x in (F.lit(s), F.lit(k))]
        )
        pages = pages_from_ids(idx.select((start + F.col("id") % b).alias("id")))
        pages.withColumn("batch", batch_of[F.col("id") - F.col("id") % b]).write.partitionBy(
            "batch"
        ).parquet(f"{self.d}/pages")
        _kg_shapes(self.spark).write.parquet(f"{self.d}/shapes")

    def op(self, i):
        pages = self.spark.read.parquet(f"{self.d}/pages/batch={i}")
        shapes = self.spark.read.parquet(f"{self.d}/shapes")
        res = pl.run_pipeline(
            self.spark, pages, shapes, out_dir=f"{self.d}/kg-{i}", incremental=True
        )
        return res, res.reports.collect()

    def check(self, i, out):
        res, reports = out
        triples = res.triples.select("s", "p", "o_value", "part_id").collect()
        # run_pipeline leaves its canonical-id mapping cached; drop it so
        # every op starts from the same state
        self.spark.catalog.clearCache()
        shutil.rmtree(f"{self.d}/kg-{i}", ignore_errors=True)
        return self.gate(i, triples, reports)

    def gate(self, i, triples, reports) -> list[str]:
        """The op's (s, p, o, part_id) rows must equal the golden triples
        with their lineage, without duplicates, and the partition reports
        must count exactly the organisations lacking ex:basedIn, per
        part_id."""
        b = self.scale["batch_pages"]
        golden = oracle.kg_golden(range(self.starts[i], self.starts[i] + b))
        errs = []
        got = {(s, p, o): part for s, p, o, part in triples}
        if len(got) != len(triples):
            errs.append(f"kg_build op {i}: duplicate triples")
        if got != golden:
            both = got.keys() & golden.keys()
            errs.append(
                f"kg_build op {i}: triples differ from golden (missing "
                f"{len(golden.keys() - both)}, extra {len(got.keys() - both)}, "
                f"other part_id {sum(got[t] != golden[t] for t in both)})"
            )
        want = oracle.kg_violations(golden)
        have = Counter({r.part_id: r.results_count for r in reports if r.results_count})
        if have != want:
            errs.append(
                f"kg_build op {i}: results per part_id differ from golden "
                f"({sum(have.values())} results, expected {sum(want.values())})"
            )
        return errs

    def patches(self, tracer):
        def state_frames(state_out, tr):
            state, reports, touched = state_out
            frames, counts = [], []
            for df in (state.fingerprints, state.mentions, state.results):
                df, n = persist_count(df)
                tr.keep(df)
                frames.append(df)
                counts.append(n)
            return (inc.IncrementalState(*frames), reports, touched), counts[1]

        return [
            Patch(pl, "relations_fused_stage", "functions.relations", "rows"),
            Patch(pl, "unique_relations_stage", "pipeline.unique_relations", "rows"),
            Patch(pl, "canonicalize_stage", "connected_components.canonicalize", "rows"),
            Patch(pl, "triples_stage", "pipeline.triples", "rows"),
            Patch(sinks, "write_triples", "sinks.write_triples"),
            Patch(inc, "incremental_revalidate", "incremental.state", "mentions", state_frames),
            Patch(inc, "validate", "shacl.validate", "results"),
            Patch(inc, "partition_reports", "shacl.reports", "rows"),
            Patch(pl, "partition_reports", "shacl.reports", "rows"),
        ]


# ---------------------------------------------------------------------------
class PluginValidate(Workload):
    """The reference plugin's execute() over a named-graph store held as one
    N-Triples file per graph: read_rdf of the data and shapes graphs ->
    execute_plugin(generate_graph, output_entities, add_labels, advanced)
    -> report graph written as N-Triples + entity counts."""

    name = "plugin_validate"
    # One op costs ~25 s warm and ~40 s on a fresh JVM; a warm-up op would
    # not fit the time budget, so the measured op is the first one.
    warm_ops = 0

    def __init__(self, *args):
        super().__init__(*args)
        self.rows = gen.customers(self.seed, self.scale["customers"])
        self.expected = oracle.plugin_expected(self.rows)
        self.items_per_op = self._data_triples()

    @property
    def capacity(self):
        return 10**6  # every op reads the same store and writes its own report

    def generate(self):
        spark = self.spark
        data = _customer_graph(spark, self.rows, self.d).unionByName(
            triples_from_rows(spark, [(GRAPH, RDF_TYPE, iri(VOID_DATASET))], graph=GRAPH)
        )
        shapes = (
            shapes_graph(spark, CUSTOMER_SHAPES_ALL)
            .withColumn("graph", F.lit(SHAPES_G))
            .unionByName(
                triples_from_rows(
                    spark,
                    _sparql_shapes_rows() + [(SHAPES_G, RDF_TYPE, iri(SHAPE_CATALOG))],
                    graph=SHAPES_G,
                )
            )
        )
        rdf_io.write_rdf(data, f"{self.d}/store/data.nt")
        rdf_io.write_rdf(shapes, f"{self.d}/store/shapes.nt")

    def _data_triples(self) -> int:
        """Data-graph size from the derive_customer_graph layout: six
        triples per customer plus one or two emails, 22 typed nations,
        two subclass axioms and the catalog triple."""
        per_cust = sum(
            6 + (k % 3 != 0) + (k % 3 != 0 and k % 7 == 0) for k, *_ in self.rows
        )
        return per_cust + 22 + 2 + 1

    def op(self, i):
        store = rdf_io.read_rdf(self.spark, f"{self.d}/store/data.nt", graph=GRAPH).unionByName(
            rdf_io.read_rdf(self.spark, f"{self.d}/store/shapes.nt", graph=SHAPES_G)
        )
        res = ex.execute_plugin(
            self.spark,
            store,
            data_graph_uri=GRAPH,
            shacl_graph_uri=SHAPES_G,
            generate_graph=True,
            validation_graph_uri=REPORT_G,
            output_entities=True,
            add_labels=True,
            advanced=True,
            utctime="2026-01-01T00:00:00Z",
        )
        out = f"{self.d}/report-{i}.nt"
        rdf_io.write_rdf(res.report_graph, out)
        counts = res.entities.groupBy("sourceConstraintComponent", "sourceShape").count().collect()
        return res.conforms, counts, out

    def check(self, i, out):
        conforms, counts, path = out
        errs = []
        if conforms:
            errs.append(f"plugin_validate op {i}: conforms=true on a violating graph")
        got: Counter = Counter()
        for r in counts:
            comp = r.sourceConstraintComponent
            got[(comp, r.sourceShape if comp == oracle.SPARQL_COMPONENT else None)] += r["count"]
        if got != self.expected:
            diff = {k: (got[k], self.expected[k]) for k in got.keys() | self.expected.keys()
                    if got[k] != self.expected[k]}
            errs.append(f"plugin_validate op {i}: result counts (got, want) {diff}")
        n_report = 0
        for f in os.listdir(path):
            if f.startswith("part-"):
                with open(os.path.join(path, f)) as fh:
                    n_report += sum(SH_RESULT_LINE in line for line in fh)
        if n_report != sum(got.values()):
            errs.append(
                f"plugin_validate op {i}: {sum(got.values())} entities but "
                f"{n_report} sh:ValidationResult nodes in the report graph"
            )
        shutil.rmtree(path, ignore_errors=True)
        return errs

    def patches(self, tracer):
        def write_mb(args, kwargs, out):
            return {"mb": _dir_mb(args[1])}

        # the report graph is built by three graph_ops calls; the last one's
        # output is the whole report, so only it is materialised
        return [
            Patch(rdf_io, "read_rdf", "io.read", "triples"),
            Patch(ex, "graph_catalog_types", "execute.catalog"),
            Patch(ex, "load_graph", "graph_catalog.load"),
            Patch(ex, "validate", "shacl.validate", "results"),
            Patch(ex, "conforms_fn", "shacl.conforms"),
            Patch(ex, "make_entities", "entities", "rows"),
            Patch(ex, "results_to_report_graph", "graph_ops.report"),
            Patch(ex, "add_report_labels", "graph_ops.report"),
            Patch(ex, "add_prov", "graph_ops.report", "triples"),
            Patch(rdf_io, "write_rdf", "io.write", post=write_mb),
        ]


WORKLOADS = {w.name: w for w in (KgBuild, PluginValidate)}
