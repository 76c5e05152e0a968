"""The benchmark's workloads. Each is a closed loop: one client submits
one operation at a time and waits for it. ``cycle`` runs one
round of operations on fresh output directories; the runner repeats
cycles until the run's time is up (at least one).

The first operation of a run meets a cold JVM, as a ``spark-submit``
of the pipeline does: code generation and JIT compilation are part of
it. Medians over the later operations show the warm cost.

Every workload reports a *primary* operation and a *rerun* of the same
call on input it has already processed:

============== ============================== ===================================
workload       primary operation              rerun
============== ============================== ===================================
crawl_build    ``run_staged`` on a fresh      ``run_staged`` again on the finished
               workdir (5 stage runs)         workdir (resume, 5 stage runs)
crawl_stream   one delta: file arrives, then  an availableNow trigger with no new
               ``run_streaming_triples``      files
idgraph_canon  ``canonical_mapping`` + write  ``canonical_mapping`` over its own
                                              output (must be a fixed point)
============== ============================== ===================================
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from dataclasses import dataclass

import gen
import oracles

# Input sizes. They are small because one run of every workload must
# fit the benchmark's time budget on a 4-core machine, where Spark's
# per-job and per-query fixed cost dominates at these sizes.
BUILD_PAGES = 100
STREAM_DELTAS = 5
DELTA_PAGES = 60
CANON_IDS = 20000


@dataclass
class Op:
    kind: str  # "primary" or "rerun"
    s: float  # wall seconds
    cpu: float  # CPU seconds (see Meter)
    rows: int = 0
    ok: bool = True
    units: int = 1  # operations counted in ``attempted``


def _tree_cpu_s(root: int) -> float:
    """User + system seconds of ``root`` and its live descendants,
    including the children each has reaped (Spark's Python workers)."""
    stats = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                line = f.read()
        except OSError:  # the process ended while listing
            continue
        fields = line[line.rindex(")") + 2:].split()
        # ppid, then utime, stime, cutime, cstime
        stats[int(d)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    kids: dict[int, list] = {}
    for pid, (ppid, _) in stats.items():
        kids.setdefault(ppid, []).append(pid)
    ticks, todo = 0, [root]
    while todo:
        pid = todo.pop()
        ticks += stats.get(pid, (0, 0))[1]
        todo.extend(kids.get(pid, []))
    return ticks / os.sysconf("SC_CLK_TCK")


class Meter:
    """Wall and CPU seconds of one operation. CPU is this process's
    plus the Spark JVM's (and its workers') user + system time. Time
    the hypervisor hands to other guests (steal) is not charged to it;
    on a shared VM steal moved wall times by up to 2x between runs."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid

    def cpu_s(self) -> float:
        t = os.times()
        return t.user + t.system + _tree_cpu_s(self.jvm_pid)

    def __call__(self, fn) -> tuple[float, float]:
        c0, t0 = self.cpu_s(), time.perf_counter()
        fn()
        return time.perf_counter() - t0, self.cpu_s() - c0


def _median(xs):
    return statistics.median(xs) if xs else 0.0


class Workload:
    """Hooks a workload may leave out."""

    def trace_hooks(self, tr) -> None:
        """Wrap the layer functions the workload calls indirectly."""

    def isolated(self, spark, tr) -> None:
        """Traced run only: time layers one by one."""

    def extra_named(self, prim: list[Op]) -> dict:
        return {}


class CrawlBuild(Workload):
    name = "crawl_build"
    names = ("build_s", "resume_s")

    def __init__(self, out: str, seed: int):
        self.out, self.seed = out, seed
        self.sf = f"{out}/input"

    def generate(self) -> dict:
        sizes = gen.corpus(self.seed, BUILD_PAGES, self.sf)
        self.oracle = oracles.BuildOracle(f"{self.sf}/documents.parquet")
        return {**sizes, **self.oracle.stats}

    def trace_hooks(self, tr) -> None:
        from multiomics_biocypher_kg_spark.operators import materialize
        from multiomics_biocypher_kg_spark.plans import lineage, pipeline

        tr.wrap(pipeline, "build_graph", "plans.pipeline.build_graph")
        tr.wrap(lineage.StagedRunner, "run_stage", "plans.lineage.run_stage",
                attrs_of=lambda self, stage, *a, **k: {"stage": stage})
        tr.wrap(lineage.StagedRunner, "is_complete", "plans.lineage.is_complete")
        tr.wrap(lineage, "merge_into", "operators.materialize.merge_into")
        tr.wrap(materialize, "merge_into", "operators.materialize.merge_into")

    def cycle(self, spark, tr, meter: Meter, c: int) -> list[Op]:
        from multiomics_biocypher_kg_spark.plans.pipeline import run_staged

        wd = f"{self.out}/wd{c}"

        def run(kind):
            with tr.span("plans.pipeline.run_staged", kind=kind):
                run_staged(spark, self.sf, wd)

        build = meter(lambda: run("build"))
        lineage_files = sorted(f"{wd}/{s}/lineage.json" for s in os.listdir(wd))
        stamps = [os.stat(p).st_mtime_ns for p in lineage_files]
        resume = meter(lambda: run("resume"))
        resumed = stamps == [os.stat(p).st_mtime_ns for p in lineage_files]
        checks = self.oracle.check(wd)
        self.checks = {**checks, "resume_rewrote_nothing": resumed}
        ok = all(checks.values())
        rows = oracles.table_rows(f"{wd}/materialize/data")
        return [
            Op("primary", *build, rows, ok, units=5),
            Op("rerun", *resume, rows, ok and resumed, units=5),
        ]

    def isolated(self, spark, tr) -> None:
        """Each layer's public function on its input as materialized
        by the previous one, written as parquet."""
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
        from multiomics_biocypher_kg_spark.plans.pipeline import sameas_from_documents
        from multiomics_biocypher_kg_spark.sources.pages import pages_from_documents
        from multiomics_biocypher_kg_spark.sources.vocab import vocab_df

        iso = f"{self.out}/isolated"
        rd = lambda name: spark.read.parquet(f"{iso}/{name}")  # noqa: E731
        vocab = vocab_df(spark)
        sameas_from_documents(spark, self.sf).write.parquet(f"{iso}/sameas")
        steps = [
            ("pages", "pages", lambda: pages_from_documents(spark, self.sf)),
            ("extract", "docs", lambda: extract(rd("pages"))),
            ("mention", "mentions", lambda: mentions_tokens(rd("docs"), vocab)),
            ("link", "links", lambda: link(rd("mentions"), vocab)),
            ("canon", "mapping", lambda: canonical_mapping(rd("sameas"))),
            ("materialize", "triples", lambda: with_edge_id(
                triples_from_links(rd("links"), subj_col="url")
                .unionByName(sameas_triples(rd("mapping"))))),
            ("enrich", "entity_nodes", lambda: rank_percentile_bucket(
                entity_rollups(rd("links")).withColumn(
                    "vocab_group", F.split("entity_id", ":")[0]),
                ["vocab_group"], "mention_count", "entity_id")),
        ]
        for layer, table, build in steps:
            with tr.span(f"isolated.{layer}", layer=layer):
                build().write.parquet(f"{iso}/{table}")
        links = oracles.rows(f"{iso}/links", ["entity_id"])
        self.iso_rows = {
            "mentions": oracles.table_rows(f"{iso}/mentions"),
            "links": len(links),
            "resolved": sum(e is not None for (e,) in links),
        }

    def extra_named(self, prim: list[Op]) -> dict:
        return {"triples_per_s": {"value": _median([o.rows / o.s for o in prim]), "unit": "triples/s"}}

    def layer_values(self, tr, ev, sizes: dict) -> dict:
        iso = {s["attrs"]["layer"]: s["dur_s"] for s in tr.spans if s["name"].startswith("isolated.")}
        builds = tr.named("plans.pipeline.run_staged", kind="build")
        resumes = tr.named("plans.pipeline.run_staged", kind="resume")
        stages = [s for b in builds for s in tr.children(b) if s["name"] == "plans.lineage.run_stage"]
        v = {
            "extract.mb_per_s": self.oracle.stats["html_mb"] / iso["extract"],
            "mention.hit_ratio": self.iso_rows["mentions"] / sizes["tokens"],
            "link.resolved_ratio": self.iso_rows["resolved"] / self.iso_rows["links"],
            "pipeline.plan_s": _median([s["dur_s"] for s in tr.named("plans.pipeline.build_graph")]),
            "lineage.verify_s": _median([
                sum(c["dur_s"] for s in tr.children(r) for c in tr.children(s)
                    if c["name"] == "plans.lineage.is_complete")
                for r in resumes
            ]),
        }
        for st in ("extract", "link", "canonicalize", "materialize", "enrich"):
            v[f"pipeline.stage_s.{st}"] = _median(
                [s["dur_s"] for s in stages if s["attrs"]["stage"] == st])
        # a stage's work is its span minus the lineage bookkeeping: the
        # completeness check before, checksum + lineage rows after the merge
        write_s = work_s = 0.0
        for s in stages:
            kids = tr.children(s)
            merges = [c for c in kids if c["name"] == "operators.materialize.merge_into"]
            after = s["end"] - merges[-1]["end"] if merges else 0.0
            write_s += after
            work_s += s["dur_s"] - after - sum(
                c["dur_s"] for c in kids if c["name"] == "plans.lineage.is_complete")
        v["lineage.write_s"] = write_s / len(builds)
        v["pipeline.recompute_ratio"] = work_s / len(builds) / sum(iso.values())
        return v


class CrawlStream(Workload):
    name = "crawl_stream"
    names = ("delta_s", "noop_trigger_s")

    def __init__(self, out: str, seed: int):
        self.out, self.seed = out, seed

    def generate(self) -> dict:
        self.deltas, sizes = gen.stream_deltas(
            self.seed, STREAM_DELTAS, DELTA_PAGES, f"{self.out}/deltas")
        self.oracle = oracles.StreamOracle(self.deltas)
        self.ingest_s: list[float] = []
        self.written: list[int] = []
        return {**sizes, **self.oracle.stats}

    def trace_hooks(self, tr) -> None:
        from multiomics_biocypher_kg_spark.operators import materialize

        tr.wrap(materialize, "merge_into", "operators.materialize.merge_into")

    def cycle(self, spark, tr, meter: Meter, c: int) -> list[Op]:
        from multiomics_biocypher_kg_spark.streaming.ingest import run_streaming_triples

        base = f"{self.out}/stream{c}"
        docs_dir, target, ckpt = f"{base}/docs", f"{base}/triples", f"{base}/checkpoint"
        os.makedirs(docs_dir)

        def ingest(kind):
            with tr.span("streaming.ingest.run_streaming_triples", kind=kind):
                run_streaming_triples(spark, docs_dir, target, ckpt)

        ops, first_arrival = [], None
        for i, src in enumerate(self.deltas):
            # hidden name while copying: the file source skips dot files
            tmp = f"{docs_dir}/.incoming"
            shutil.copyfile(src, tmp)
            os.rename(tmp, f"{docs_dir}/{os.path.basename(src)}")
            first_arrival = first_arrival or time.perf_counter()
            dt = meter(lambda: ingest("delta"))
            rows = oracles.table_rows(target)
            self.written.append(rows)
            ops.append(Op("primary", *dt, self.oracle.upserted[i], self.oracle.check(target, i + 1)))
        self.ingest_s.append(time.perf_counter() - first_arrival)
        dt = meter(lambda: ingest("noop"))
        ops.append(Op("rerun", *dt, 0, self.oracle.check(target, len(self.deltas))))
        self.checks = {"triples_match_distinct_mentions_after_every_trigger": all(o.ok for o in ops)}
        return ops

    def extra_named(self, prim: list[Op]) -> dict:
        return {"ingest_s": {"value": _median(self.ingest_s), "unit": "s", "n": len(self.ingest_s)}}

    def layer_values(self, tr, ev, sizes: dict) -> dict:
        deltas = tr.named("streaming.ingest.run_streaming_triples", kind="delta")
        # one micro-batch per delta, in order; no-op triggers run none
        add = [p["durationMs"].get("addBatch", 0) / 1000.0 for p in ev.progress
               if sum(src["numInputRows"] for src in p["sources"]) > 0]
        n = min(len(add), len(deltas))
        cycles = len(self.written) // len(self.deltas)
        return {
            "merge.rewrite_ratio": sum(self.written) / (sum(self.oracle.upserted) * cycles),
            "ingest.add_batch_s": _median(add),
            "ingest.overhead_s": _median([deltas[i]["dur_s"] - add[i] for i in range(n)]),
        }


class IdGraphCanon(Workload):
    name = "idgraph_canon"
    names = ("canon_s", "recanon_s")

    def __init__(self, out: str, seed: int):
        self.out, self.seed = out, seed
        self.inp = f"{out}/input"

    def generate(self) -> dict:
        sizes = gen.id_graph(self.seed, CANON_IDS, self.inp)
        self.oracle = oracles.CanonOracle(f"{self.inp}/sameas.parquet", f"{self.inp}/anchors.parquet")
        sizes.update(self.oracle.stats)
        return sizes

    def cycle(self, spark, tr, meter: Meter, c: int) -> list[Op]:
        from pyspark.sql import functions as F

        from multiomics_biocypher_kg_spark.operators.canonicalize import canonical_mapping

        first, second = f"{self.out}/canon{c}/mapping", f"{self.out}/canon{c}/recanon"
        anchors = lambda: spark.read.parquet(f"{self.inp}/anchors.parquet")  # noqa: E731

        def canon(edges, path, kind):
            with tr.span("operators.canonicalize.canonical_mapping", kind=kind):
                canonical_mapping(edges(), anchors()).write.parquet(path)

        dt1 = meter(lambda: canon(
            lambda: spark.read.parquet(f"{self.inp}/sameas.parquet"), first, "canon"))
        ok1 = self.oracle.check(first)
        dt2 = meter(lambda: canon(
            lambda: spark.read.parquet(first).select(
                F.col("entity_id").alias("id_a"), F.col("canonical_id").alias("id_b")),
            second, "recanon"))
        ok2 = self.oracle.check(second)
        self.checks = {"mapping_matches_union_find": ok1, "recanon_is_fixed_point": ok2}
        rows = oracles.table_rows(first)
        return [Op("primary", *dt1, rows, ok1), Op("rerun", *dt2, rows, ok2)]

    def layer_values(self, tr, ev, sizes: dict) -> dict:
        canons = tr.named("operators.canonicalize.canonical_mapping", kind="canon")
        return {"canon.task_skew": _median([s["task_skew"] for s in canons])}


WORKLOADS = {w.name: w for w in (CrawlBuild, CrawlStream, IdGraphCanon)}
