"""OWL → triples extraction plan (reference EP1 steps 1-3, EP2).

Scopes the binaryFile/mapInPandas scan to the statements the graph build
cleans: root-namespace resolution, class filter and validity filter, all
declarative DataFrame ops (SURVEY.md §3).  The predicate whitelist,
restriction flattening and global dedup run once, in
``graph_build.clean_triples``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..constants import IAO_ROOT_TERM, OWL_ON_PROPERTY, OWL_SOME_VALUES_FROM
from ..operators.filters import filter_skip_file, valid_triple_predicate
from ..sources.owl import OWL_NS, RDF_NS, scan_rdf_triples, scan_xml_elements
from .graph_build import GraphBuildResult, build_graph

RDF_TYPE = RDF_NS + "type"
OWL_CLASS = OWL_NS + "Class"


def derive_root_ns(raw: DataFrame) -> DataFrame:
    """Per-file root namespace: the IAO_0000700 root term split at '_', else
    the (deterministically min) class URI split at '_'.
    Ref: OntologyTripleParser.java:130-150 (document-order 'first class'
    replaced by min for reproducibility, SURVEY.md §2.4)."""
    iao = raw.filter(F.col("predicate") == IAO_ROOT_TERM).groupBy("src_file").agg(
        F.min(F.split(F.col("object_iri"), "_").getItem(0)).alias("declared_ns")
    )
    classes = (
        raw.filter((F.col("predicate") == RDF_TYPE) & (F.col("object_iri") == OWL_CLASS))
        .groupBy("src_file")
        .agg(F.min(F.split(F.col("subject"), "_").getItem(0)).alias("fallback_ns"))
    )
    return classes.join(iao, "src_file", "left").select(
        "src_file", F.coalesce("declared_ns", "fallback_ns").alias("root_ns")
    )


def extract_triples(
    spark: SparkSession,
    path: str,
    test_object: bool = False,
    glob: str = "*.owl",
    persisted_out: list[DataFrame] | None = None,
) -> DataFrame:
    """Scope a directory of OWL files to the statements ``clean_triples``
    turns into the ontology's unique triples.

    Per file, as one DataFrame DAG: raw RDF/XML scan → skip ro.owl → root
    namespace → keep the statements of root-namespace classes that pass the
    validity rule row by row (strict object check when ``test_object``),
    plus the ``owl:onProperty`` / ``owl:someValuesFrom`` statements of
    restriction bnodes.  Under ``test_object`` a ``someValuesFrom`` row whose
    object lies outside the root namespace is dropped, since its flattened
    triple would fail the same check.  No whitelist, flattening or dedup
    happens here: ``clean_triples`` (run by ``build_graph``) is the single
    cleaning pass.  Output: the triples schema, ``src_file`` included.
    Ref: OntologyTripleParser.java:62-121,159-171.

    The raw parse is persisted and is ``persisted_out[0]``: the Arrow-batched
    Python RDF parse is the pipeline's most expensive narrow stage, read here
    by the namespace derivation, the class filter and the restriction feed.
    """
    raw = scan_rdf_triples(spark, path, glob).persist(StorageLevel.MEMORY_AND_DISK)
    if persisted_out is not None:
        persisted_out.append(raw)
    raw = filter_skip_file(raw)
    root_ns = derive_root_ns(raw)

    classes = (
        raw.filter((F.col("predicate") == RDF_TYPE) & (F.col("object_iri") == OWL_CLASS))
        .select("src_file", "subject")
        .distinct()
    )
    class_stmts = (
        raw.join(classes, on=["src_file", "subject"], how="left_semi")
        .join(root_ns, "src_file")
        .filter(
            F.col("subject").startswith(F.col("root_ns"))
            & valid_triple_predicate(F.col("root_ns"), test_object)
        )
    )
    restrictions = raw.filter(
        F.col("subject").startswith("_:")
        & F.col("predicate").isin(OWL_ON_PROPERTY, OWL_SOME_VALUES_FROM)
    )
    if test_object:
        restrictions = (
            restrictions.join(root_ns, "src_file")
            .filter(
                (F.col("predicate") != OWL_SOME_VALUES_FROM)
                | F.coalesce(F.col("object_iri").contains(F.col("root_ns")), F.lit(False))
            )
            .drop("root_ns")
        )
    return class_stmts.drop("root_ns").unionByName(restrictions)


def ontology_graph_from_owl(spark: SparkSession, path: str, test_object: bool = False) -> GraphBuildResult:
    """Full EP1 pipeline: OWL directory → scoped statements → property graph
    (``build_graph`` cleans them once).  The ro.owl term dictionary is parsed
    with the element scan (broadcast downstream)."""
    persisted: list[DataFrame] = []
    triples = extract_triples(spark, path, test_object, persisted_out=persisted)
    ro_terms = scan_xml_elements(spark, path, glob="ro.owl")
    # ontology corpora fit executor storage by construction (the reference
    # holds every triple in one JVM heap) — persist the clean triples too
    result = build_graph(triples, ro_terms, persist_clean=True)
    result.persisted.extend(persisted)
    return result
