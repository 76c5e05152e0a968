"""Oracles for the benchmark's workloads. They run outside the timed
region, read the program's outputs straight from parquet with pyarrow
(no Spark), and compare them with DuckDB over the generated inputs or
with plain Python.

- crawl_build: extracted text byte-identical to the generated text
  for every url; the ``materialize`` stage equal to the repo's DuckDB
  ``TRIPLES_SQL``; the ``enrich`` stage equal to the registered
  ``kg_entity_rank`` oracle.
- crawl_stream: the triple table equal to the distinct mention
  triples (``LINKS_SQL``) over every delivered page version.
- idgraph_canon: the mapping equal to a Python union-find with the
  anchor and conflict rule of ``operators.canonicalize``.
"""

from __future__ import annotations

import duckdb
import pyarrow.dataset as ds


def url_of(doc_id: int) -> str:
    """Independent copy of the page-url formula (30% hot host)."""
    host = "hot.example.com" if doc_id % 10 < 3 else f"h{doc_id % 50}.example.org"
    return f"https://{host}/doc/{doc_id:06d}"


def rows(path: str, columns: list[str]) -> list[tuple]:
    """All rows of a parquet file or stage-table directory."""
    t = ds.dataset(path, format="parquet").to_table(columns=columns)
    return list(zip(*(t.column(c).to_pylist() for c in columns)))


def _docs_con(paths: list[str]) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    files = ", ".join(f"'{p}'" for p in paths)
    con.sql(f"CREATE VIEW documents AS SELECT * FROM read_parquet([{files}])")
    return con


def _rank_row(r) -> tuple:
    eid, group, mentions, docs, rank, pct, bucket = r
    return (eid, group, int(mentions), int(docs), int(rank), round(float(pct), 6), bucket)


RANK_COLS = [
    "entity_id", "vocab_group", "mention_count", "doc_count",
    "rank_by_metric", "metric_percentile", "metric_bucket",
]
TRIPLE_COLS = ["subj", "pred", "obj", "edge_id"]


class BuildOracle:
    """Expected stage tables of ``run_staged`` over one corpus."""

    def __init__(self, docs_path: str):
        from multiomics_biocypher_kg_spark.oracle_fragments import HTML_SQL, TRIPLES_SQL
        from multiomics_biocypher_kg_spark.registry import ORACLES

        con = _docs_con([docs_path])
        self.texts = {url_of(d): t for d, t in rows(docs_path, ["doc_id", "text"])}
        self.triples = set(con.sql(TRIPLES_SQL).fetchall())
        self.ranks = {_rank_row(r) for r in con.sql(ORACLES["kg_entity_rank"]).fetchall()}
        self.stats = {
            "html_mb": con.sql(f"SELECT sum(strlen({HTML_SQL})) FROM documents").fetchone()[0] / 1e6,
            "triples": len(self.triples),
        }
        con.close()

    def check(self, workdir: str) -> dict[str, bool]:
        docs = dict(rows(f"{workdir}/extract/data", ["url", "text"]))
        triples = rows(f"{workdir}/materialize/data", TRIPLE_COLS)
        ranks = {_rank_row(r) for r in rows(f"{workdir}/enrich/data", RANK_COLS)}
        return {
            "extract_text_identical": docs == self.texts,
            "triples_match_duckdb": len(triples) == len(self.triples) and set(triples) == self.triples,
            "entity_nodes_match_kg_entity_rank": ranks == self.ranks,
        }


class StreamOracle:
    """Expected triple table after ingesting the first k deltas."""

    def __init__(self, delta_paths: list[str]):
        from multiomics_biocypher_kg_spark.oracle_fragments import HTML_SQL, LINKS_SQL

        self.expected: list[set] = []
        self.upserted: list[int] = []
        for k in range(1, len(delta_paths) + 1):
            con = _docs_con(delta_paths[:k])
            self.expected.append(set(con.sql(
                f"SELECT DISTINCT url, 'mentions', entity_id, url || '|mentions|' || entity_id "
                f"FROM ({LINKS_SQL}) WHERE entity_id IS NOT NULL"
            ).fetchall()))
            con.close()
        for p in delta_paths:
            con = _docs_con([p])
            self.upserted.append(con.sql(
                f"SELECT count(*) FROM (SELECT DISTINCT url, entity_id FROM ({LINKS_SQL}) "
                f"WHERE entity_id IS NOT NULL)"
            ).fetchone()[0])
            con.close()
        con = _docs_con(delta_paths)
        self.stats = {
            "html_mb": con.sql(f"SELECT sum(strlen({HTML_SQL})) FROM documents").fetchone()[0] / 1e6,
            "triples": len(self.expected[-1]),
        }
        con.close()

    def check(self, target: str, n_deltas: int) -> bool:
        got = rows(target, TRIPLE_COLS)
        want = self.expected[n_deltas - 1]
        return len(got) == len(want) and set(got) == want


def table_rows(path: str) -> int:
    """Row count of a stage-table directory from parquet footers."""
    return sum(f.count_rows() for f in ds.dataset(path, format="parquet").get_fragments())


class CanonOracle:
    """Union-find over the same-as edges with the tier-1 anchor rule:
    canonical = the component's only anchor, else its min id;
    2+ anchors = conflict component."""

    def __init__(self, sameas_path: str, anchors_path: str):
        parent: dict[str, str] = {}

        def find(x: str) -> str:
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in rows(sameas_path, ["id_a", "id_b"]):
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        anchors = {a for (a,) in rows(anchors_path, ["entity_id"])}
        comp_anchors: dict[str, set] = {}
        for x in parent:
            r = find(x)
            comp_anchors.setdefault(r, set())
            if x in anchors:
                comp_anchors[r].add(x)
        self.mapping = set()
        for x in parent:
            r = find(x)  # the root is the component's min id
            an = comp_anchors[r]
            canon = next(iter(an)) if len(an) == 1 else r
            self.mapping.add((x, canon, "true" if len(an) >= 2 else "false"))
        self.stats = {
            "components": len(comp_anchors),
            "conflict_components": sum(len(v) >= 2 for v in comp_anchors.values()),
        }

    def check(self, path: str) -> bool:
        got = rows(path, ["entity_id", "canonical_id", "is_conflict"])
        return len(got) == len(self.mapping) and set(got) == self.mapping
