"""End-to-end KG-construction DAG.

extract -> mention -> link -> canonicalize -> materialize -> enrich
(SURVEY.md §7.1), as ONE ordered stage list (:func:`build_graph`).
Each entry names its stage table, its merge keys, the stages it
reads and a builder. ``run_staged`` commits each stage as a
partitioned parquet stage table with a lineage row (the
Iceberg-layout stand-in) and feeds every builder the COMMITTED
tables of its upstream stages, so no stage re-derives an earlier
one, and a resume builds nothing at all: connected components run
only inside the ``canonicalize`` build.

Same-as evidence: in the real corpus this comes from shared-ID /
co-mention evidence; for the deterministic driver corpus
``sameas_from_documents`` synthesizes a known-component-structure
graph (stars of 5 bridged in pairs -> components of 10), matching
FIXTURES.md A3.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from multiomics_biocypher_kg_spark.operators.canonicalize import canonical_mapping
from multiomics_biocypher_kg_spark.operators.enrich import (
    entity_rollups,
    rank_percentile_bucket,
)
from multiomics_biocypher_kg_spark.operators.extract import extract
from multiomics_biocypher_kg_spark.operators.link import link
from multiomics_biocypher_kg_spark.operators.materialize import (
    sameas_triples,
    triples_from_links,
    with_edge_id,
)
from multiomics_biocypher_kg_spark.operators.mention import mentions_tokens
from multiomics_biocypher_kg_spark.sources.pages import pages_from_documents
from multiomics_biocypher_kg_spark.sources.vocab import vocab_df

#: (stage, merge keys, upstream stages, builder(*upstream tables))
Stage = tuple[str, list[str], tuple[str, ...], Callable[..., DataFrame]]


def sameas_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic same-as evidence keyed off doc_id (FIXTURES A3):
    star edges d -> d - d%5, plus bridges d -> d+1 when d%10 == 4."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    ent = lambda c: F.format_string("ent:%06d", c)  # noqa: E731
    stars = docs.select(
        ent(F.col("doc_id")).alias("id_a"),
        ent(F.col("doc_id") - F.col("doc_id") % 5).alias("id_b"),
        F.lit("star").alias("source"),
    )
    bridges = docs.where(F.col("doc_id") % 10 == 4).select(
        ent(F.col("doc_id")).alias("id_a"),
        ent(F.col("doc_id") + 1).alias("id_b"),
        F.lit("bridge").alias("source"),
    )
    return stars.union(bridges).where(F.col("id_a") != F.col("id_b"))


def materialize(links: DataFrame, mapping: DataFrame) -> DataFrame:
    """Stage 5: mention triples + same-as triples, deterministic edge ids."""
    mention_triples = triples_from_links(links, subj_col="url")
    return with_edge_id(mention_triples.unionByName(sameas_triples(mapping)))


def enrich(links: DataFrame) -> DataFrame:
    """Stage 6: entity rollups ranked per vocabulary group (W3)."""
    return rank_percentile_bucket(
        entity_rollups(links).withColumn("vocab_group", F.split("entity_id", ":")[0]),
        ["vocab_group"],
        "mention_count",
        "entity_id",
    )


def build_graph(spark: SparkSession, sf_dir: str) -> list[Stage]:
    """The DAG over the driver corpus as an ordered stage list. Plans
    nothing and runs no job: every builder is called only when its
    stage has to be (re)built."""

    def link_docs(docs: DataFrame) -> DataFrame:
        vocab = vocab_df(spark)
        return link(mentions_tokens(docs, vocab), vocab)

    return [
        ("extract", ["url"], (), lambda: extract(pages_from_documents(spark, sf_dir))),
        ("link", ["url", "pos"], ("extract",), link_docs),
        ("canonicalize", ["entity_id"], (),
         lambda: canonical_mapping(sameas_from_documents(spark, sf_dir))),
        ("materialize", ["edge_id"], ("link", "canonicalize"), materialize),
        ("enrich", ["entity_id"], ("link",), enrich),
    ]


def run_staged(spark: SparkSession, sf_dir: str, workdir: str) -> dict[str, DataFrame]:
    """The DAG as idempotent, resumable stage tables (north rule):
    each stage = one parquet stage table + lineage row, built from the
    committed tables of its upstream stages; re-running skips
    completed stages; a crashed half-write converges via the MERGE
    INTO emulation (see plans.lineage.StagedRunner).

    -> {stage: committed stage table}
    """
    from multiomics_biocypher_kg_spark.plans.lineage import StagedRunner

    runner = StagedRunner(spark, workdir)
    out: dict[str, DataFrame] = {}
    for stage, keys, upstream, builder in build_graph(spark, sf_dir):
        out[stage] = runner.run_stage(
            stage, lambda b=builder, u=upstream: b(*(out[s] for s in u)), keys
        )
    return out
