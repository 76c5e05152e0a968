"""Schema compiler, file readers, staged-resume semantics."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from multiomics_biocypher_kg_spark.schema import (
    SchemaRegistry,
    default_registry,
    parse_type,
)
from tests.conftest import SF_TINY


def test_parse_type_grammar():
    assert parse_type("str") == T.StringType()
    assert parse_type("float[]") == T.ArrayType(T.DoubleType())
    assert parse_type('str # "true" | "false"') == T.StringType()
    with pytest.raises(ValueError):
        parse_type("decimal")


def test_registry_and_typed_emission(spark):
    reg = default_registry()
    assert "page" in reg.node_labels() and "mentions" in reg.edge_labels()
    df = spark.createDataFrame(
        [("e1", "kw", 3, 2), ("e1", "kw", 3, 2), (None, "kw", 1, 1)],
        "eid string, voc string, mc long, dc long",
    )
    nodes = reg.emit_nodes(
        df,
        "entity",
        F.col("eid"),
        {"vocab": F.col("voc"), "mention_count": F.col("mc")},
    )
    rows = nodes.collect()
    # null ids dropped, duplicates dropped, props typed + padded
    assert len(rows) == 1
    r = rows[0]
    assert r.label == "entity" and r.props.vocab == "kw"
    assert r.props.mention_count == 3 and r.props.doc_count is None
    with pytest.raises(ValueError):
        reg.emit_nodes(df, "entity", F.col("eid"), {"nope": F.col("voc")})


def test_emit_edges_deterministic_ids(spark):
    reg = default_registry()
    df = spark.createDataFrame([("u1", "e1", 2)], "s string, o string, n long")
    edges = reg.emit_edges(
        df, "mentions", F.col("s"), F.col("o"), {"n_occurrences": F.col("n")}
    ).collect()
    assert edges[0].edge_id == "u1|mentions|e1"


def test_yaml_roundtrip(tmp_path):
    y = """
thing:
  represented_as: node
  properties:
    a: int
    b: str[]
"""
    reg = SchemaRegistry.from_yaml(y)
    s = reg.entities["thing"].props_struct()
    assert s["a"].dataType == T.LongType()
    assert s["b"].dataType == T.ArrayType(T.StringType())


def test_readers_csv_dialect_and_fasta(spark, tmp_path):
    from multiomics_biocypher_kg_spark.sources.readers import (
        csv_with_dialect,
        fasta,
        gff3,
        tsv_hash_header,
    )

    p = tmp_path / "t.csv"
    p.write_text("junk line\nname;fc\ng1;1.5\n#comment\ng2;2.5\n")
    df = csv_with_dialect(
        spark, str(p), sep=";", skiprows=1, header=True, comment="#"
    )
    rows = {r.name: r.fc for r in df.collect()}
    assert rows == {"g1": "1.5", "g2": "2.5"}

    fa = tmp_path / "t.faa"
    fa.write_text(">ACC1 desc one\nMKV\nLLS\n>ACC2\nAAA\n")
    seqs = {r.accession: (r.sequence, r.description) for r in fasta(spark, str(fa)).collect()}
    assert seqs["ACC1"] == ("MKVLLS", "desc one")
    assert seqs["ACC2"][0] == "AAA"

    tsv = tmp_path / "t.tsv"
    tsv.write_text("## emapper\n#query\tko\ng1\tK001\n")
    t = tsv_hash_header(spark, str(tsv)).collect()
    assert t[0].query == "g1" and t[0].ko == "K001"

    g = tmp_path / "t.gff"
    g.write_text("##gff\nchr1\tsrc\tgene\t1\t10\t.\t+\t.\tID=g1;Name=dna%2DA\n")
    gr = gff3(spark, str(g)).collect()[0]
    assert gr.attrs["ID"] == "g1" and gr.attrs["Name"] == "dna-A"


def test_csv_dialect_comment_before_header(spark, tmp_path):
    """A comment line at the header position must not shift a data
    row into the header slot (header = first SURVIVING line)."""
    from multiomics_biocypher_kg_spark.sources.readers import csv_with_dialect

    p = tmp_path / "c.csv"
    p.write_text("meta\n#note\ncolA,colB\n1,2\n")
    df = csv_with_dialect(spark, str(p), skiprows=1, header=True, comment="#")
    rows = df.collect()
    assert df.columns == ["colA", "colB"]
    assert [(r.colA, r.colB) for r in rows] == [("1", "2")]

    empty = tmp_path / "e.csv"
    empty.write_text("only\n")
    import pytest

    with pytest.raises(ValueError, match="no header"):
        csv_with_dialect(spark, str(empty), skiprows=5, header=True)

    # quoted header cell containing the separator: header parse must
    # share the body's quoting rules (csv.reader, not a naive split)
    q = tmp_path / "q.csv"
    q.write_text('junk line\n"col,A",colB\n"v,1",2\n')
    qdf = csv_with_dialect(spark, str(q), skiprows=1, header=True)
    assert qdf.columns == ["col,A", "colB"]
    assert [tuple(r) for r in qdf.collect()] == [("v,1", "2")]


GBK_FIXTURE = """LOCUS       NC_000001            1000 bp    DNA     circular CON 01-JAN-2020
DEFINITION  Test genome.
REFERENCE   1  (bases 1 to 1000)
  REMARK    see https://example.org/genome//notes and http://mirror.example
FEATURES             Location/Qualifiers
     source          1..1000
                     /organism="Test"
     gene            1..300
                     /locus_tag="PMM0001"
     CDS             1..300
                     /locus_tag="PMM0001"
                     /EC_number="2.7.7.7"
                     /EC_number="1.1.1.1"
                     /note="cyanorak ORF Id: CK_00000001"
                     /product="DNA polymerase with a very long name that
                     wraps onto the next line"
     CDS             complement(400..600)
                     /locus_tag="PMM0002"
                     /note="plain annotation"
ORIGIN
        1 aaaaaaaaaa
//
LOCUS       NC_000002             500 bp    DNA     linear   CON 01-JAN-2020
FEATURES             Location/Qualifiers
     CDS             1..100
                     /locus_tag="PMN0001"
                     /EC_number="3.1.1.1"
                     /note="cyanorak ORF Id: CK_X ref cyanorak ORF Id: again"
//
"""


def test_genbank_cds_scan(spark, tmp_path):
    from multiomics_biocypher_kg_spark.sources.readers import (
        genbank_cds,
        genbank_cyanorak_map,
        genbank_ec_by_locus,
    )

    p = tmp_path / "g.gbff"
    p.write_text(GBK_FIXTURE)
    cds = genbank_cds(spark, str(p))
    rows = {r.locus_tags[0]: r for r in cds.collect()}
    assert set(rows) == {"PMM0001", "PMM0002", "PMN0001"}
    assert rows["PMM0001"].record_id == "NC_000001"
    assert list(rows["PMM0001"].ec_numbers) == ["2.7.7.7", "1.1.1.1"]
    assert rows["PMM0001"].cyanorak_id == "CK_00000001"
    assert rows["PMM0002"].cyanorak_id is None  # non-matching note
    assert rows["PMN0001"].record_id == "NC_000002"
    # anchored prefix strip: the phrase appearing again mid-note is kept
    assert rows["PMN0001"].cyanorak_id == "CK_X ref cyanorak ORF Id: again"

    ec = {r.locus_tag: list(r.ec_numbers) for r in genbank_ec_by_locus(cds).collect()}
    assert ec == {"PMM0001": ["2.7.7.7", "1.1.1.1"], "PMN0001": ["3.1.1.1"]}

    cmap = {r.cyanorak_id: r.locus_tag for r in genbank_cyanorak_map(cds).collect()}
    assert cmap == {
        "CK_00000001": "PMM0001",
        "CK_X ref cyanorak ORF Id: again": "PMN0001",
    }


def test_keyed_json_maptype_explode(spark, tmp_path):
    """S8: a keyed JSON document parses as ONE MapType value and
    explodes to rows — never one planner column per key."""
    from multiomics_biocypher_kg_spark.sources.readers import keyed_json

    p = tmp_path / "m.json"
    p.write_text(
        '{"PMM0001": {"name": "dnaA", "ec": "2.7.7.7"},'
        ' "PMM0002": {"name": "dnaN", "ec": "2.7.7.7"}}'
    )
    df = keyed_json(spark, str(p))
    assert df.columns == ["key", "value"]
    rows = {r.key: r.value for r in df.collect()}
    assert rows["PMM0001"]["name"] == "dnaA"
    assert len(rows) == 2
    typed = keyed_json(
        spark, str(p), value_schema="struct<name:string,ec:string>"
    )
    assert {r.value.name for r in typed.collect()} == {"dnaA", "dnaN"}


def test_staged_resume_idempotent(spark, tmp_path):
    from multiomics_biocypher_kg_spark.plans.lineage import (
        StagedRunner,
        content_checksum,
    )

    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return spark.range(10).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        )

    runner = StagedRunner(spark, str(tmp_path))
    out1 = runner.run_stage("s1", build, ["k"])
    c1 = runner.lineage("s1")
    assert out1.count() == 10 and calls["n"] == 1
    # the recorded totals are the sums over the per-partition rows and
    # match a recompute over the committed table
    parts = c1["partitions"]
    assert c1["n_rows"] == sum(p["n_rows"] for p in parts) == 10
    assert c1["checksum"] == sum(p["checksum"] for p in parts) % (2**63)
    assert (c1["checksum"], c1["n_rows"]) == content_checksum(out1)
    # resume: completed stage is skipped entirely
    out2 = runner.run_stage("s1", build, ["k"])
    assert out2.count() == 10 and calls["n"] == 1
    # crash between the merge and the lineage write: the table is
    # there, its lineage is not -> the re-run merges again and
    # converges to the same checksum (idempotence)
    os.remove(os.path.join(str(tmp_path), "s1", "lineage.json"))
    out3 = runner.run_stage("s1", build, ["k"])
    c2 = runner.lineage("s1")
    assert calls["n"] == 2 and out3.count() == 10
    assert c1["checksum"] == c2["checksum"] and c1["n_rows"] == c2["n_rows"]


def test_staged_pipeline_end_to_end_resume(spark, tmp_path):
    import shutil

    from multiomics_biocypher_kg_spark.plans.pipeline import run_staged

    out1 = run_staged(spark, SF_TINY, str(tmp_path))
    n1 = out1["materialize"].count()
    # simulate a crash: kill one mid-DAG stage, resume
    shutil.rmtree(os.path.join(str(tmp_path), "materialize"))
    out2 = run_staged(spark, SF_TINY, str(tmp_path))
    assert out2["materialize"].count() == n1
    with open(os.path.join(str(tmp_path), "materialize", "lineage.json")) as f:
        lin = json.load(f)
    assert lin["n_rows"] == n1 and lin["partitions"]


def test_staged_resume_reads_committed_upstream(spark, tmp_path, monkeypatch):
    """A resume builds nothing, and a rebuilt stage reads the committed
    tables of its upstream stages instead of re-deriving them."""
    import shutil

    from multiomics_biocypher_kg_spark.plans import pipeline

    n1 = pipeline.run_staged(spark, SF_TINY, str(tmp_path))["materialize"].count()

    def boom(*a, **k):
        raise AssertionError("upstream stage recomputed")

    for name in ("canonical_mapping", "extract", "link"):
        monkeypatch.setattr(pipeline, name, boom)
    out = pipeline.run_staged(spark, SF_TINY, str(tmp_path))
    assert out["materialize"].count() == n1
    shutil.rmtree(os.path.join(str(tmp_path), "materialize"))
    out = pipeline.run_staged(spark, SF_TINY, str(tmp_path))
    assert out["materialize"].count() == n1
