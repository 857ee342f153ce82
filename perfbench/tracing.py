"""Traced run: spans around calls into each layer, counts from Spark.

Spans are recorded here, in the benchmark, around calls into the
program's public functions: name, start, end, parent, and the rep they
belong to. They stay in memory and are written once at the end. Spark
is lazy, so a layer's time comes from a ladder of rungs, each
materialized to a ``noop`` sink with caches released in between; a
layer's self time is the difference between rungs, or a span's
duration minus the part its child spans cover.

Counts (rows, shuffle bytes, spill, GC, task times) come from Spark's
status store after the run. Each Spark job is attributed to the
innermost span open when it was submitted — one job runs at a time,
so submission time identifies the span whatever thread submitted it
(streaming micro-batches run on the query's own thread).
"""

from __future__ import annotations

import itertools
import statistics
import time
from contextlib import ExitStack, contextmanager

from py4j.protocol import Py4JJavaError
from workloads import RepResult


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self.rep = 0
        self._ids = itertools.count(1)
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        rec = {
            "id": next(self._ids),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "rep": self.rep,
            "start": time.time(),
        }
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self.spans.append(rec)

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.named(name))

    def self_time(self, span: dict) -> float:
        """Duration minus the union of the child spans' intervals."""
        kids = sorted(
            (c["start"], c["end"]) for c in self.spans
            if c["parent"] == span["id"]
        )
        covered, reach = 0.0, span["start"]
        for a, b in kids:
            a, b = max(a, reach), min(b, span["end"])
            if b > a:
                covered += b - a
                reach = b
        return span["end"] - span["start"] - covered

    def innermost(self, t: float) -> dict | None:
        # Spark stamps submission in whole milliseconds
        hits = [s for s in self.spans if s["start"] - 0.002 <= t <= s["end"]]
        return max(hits, key=lambda s: s["start"]) if hits else None

    def descendants(self, span: dict) -> set[int]:
        ids, grew = {span["id"]}, True
        while grew:
            new = {s["id"] for s in self.spans if s["parent"] in ids} - ids
            ids |= new
            grew = bool(new)
        return ids


def _count(text: str | None) -> int:
    """A SQL metric's total as an integer ("12,345" or "total ...\\n12")."""
    if not text:
        return 0
    for token in text.replace(",", "").split():
        try:
            return int(float(token))
        except ValueError:
            continue
    return 0


class SparkCounts:
    """Jobs, stages and SQL plan metrics from the live status stores
    (they are kept with ``spark.ui.enabled=false`` too)."""

    def __init__(self, spark):
        self.store = spark.sparkContext._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self._conv = spark._jvm.scala.jdk.javaapi.CollectionConverters

    def _list(self, seq) -> list:
        return list(self._conv.asJava(seq))

    def jobs(self) -> list[dict]:
        out = []
        for j in self._list(self.store.jobsList(None)):
            sub = j.submissionTime()
            if sub.isEmpty():
                continue
            out.append({
                "id": j.jobId(),
                "t": sub.get().getTime() / 1000,
                "stages": [int(s) for s in self._list(j.stageIds())],
            })
        return out

    def stage(self, stage_id: int) -> dict | None:
        try:
            st = self.store.lastStageAttempt(stage_id)
        except Py4JJavaError:
            return None
        if st.status().toString() != "COMPLETE":
            return None
        tasks = self._list(
            self.store.taskList(stage_id, st.attemptId(), 1 << 20)
        )
        durations = [
            t.duration().get() for t in tasks if t.duration().isDefined()
        ]
        return {
            "tasks": st.numCompleteTasks(),
            "run_ms": st.executorRunTime(),
            "gc_ms": st.jvmGcTime(),
            "shuffle_write": st.shuffleWriteBytes(),
            "spill": st.memoryBytesSpilled() + st.diskBytesSpilled(),
            "durations": durations,
        }

    def executions(self, since: float) -> list[dict]:
        """SQL executions submitted after ``since`` (epoch seconds), with
        every plan node's metric totals."""
        out = []
        for e in self._list(self.sql.executionsList()):
            if e.submissionTime() / 1000 < since:
                continue
            eid = e.executionId()
            values = {
                int(k): v
                for k, v in self._conv.asJava(
                    self.sql.executionMetrics(eid)
                ).items()
            }
            nodes = []
            for n in self._list(self.sql.planGraph(eid).allNodes()):
                nodes.append({
                    "name": n.name(),
                    "desc": n.desc(),
                    "metrics": {
                        m.name(): values.get(int(m.accumulatorId()))
                        for m in self._list(n.metrics())
                    },
                })
            out.append({"t": e.submissionTime() / 1000, "nodes": nodes})
        return out


def skew(durations: list[int]) -> float:
    """max / median task time; 1.0 when there is nothing to compare."""
    if len(durations) < 2:
        return 1.0
    med = statistics.median(durations)
    return max(durations) / med if med else 1.0


class Attribution:
    """Spark stage and SQL counts per span, by submission time."""

    def __init__(self, tracer: Tracer, counts: SparkCounts, since: float):
        self.tracer = tracer
        self.stages: dict[int, list[dict]] = {}  # span id -> stage dicts
        seen: set[int] = set()
        for job in counts.jobs():
            span = tracer.innermost(job["t"]) if job["t"] >= since else None
            if span is None:
                continue
            for sid in job["stages"]:
                if sid in seen:
                    continue
                seen.add(sid)
                st = counts.stage(sid)
                if st:
                    self.stages.setdefault(span["id"], []).append(st)
        self.executions: dict[int, list[dict]] = {}
        for ex in counts.executions(since):
            span = tracer.innermost(ex["t"])
            if span is not None:
                self.executions.setdefault(span["id"], []).append(ex)

    def _span_ids(self, spans: list[dict]) -> set[int]:
        ids: set[int] = set()
        for s in spans:
            ids |= self.tracer.descendants(s)
        return ids

    def stage_list(self, spans: list[dict]) -> list[dict]:
        return [st for i in self._span_ids(spans) for st in self.stages.get(i, [])]

    def nodes(self, spans: list[dict]) -> list[dict]:
        return [
            n for i in self._span_ids(spans)
            for ex in self.executions.get(i, []) for n in ex["nodes"]
        ]

    def spark_totals(self, spans: list[dict]) -> dict:
        stages = self.stage_list(spans)
        heaviest = max(stages, key=lambda s: s["run_ms"], default=None)
        return {
            "shuffle_bytes_written": sum(s["shuffle_write"] for s in stages),
            "spill_bytes": sum(s["spill"] for s in stages),
            "gc_s": sum(s["gc_ms"] for s in stages) / 1000,
            "tasks": sum(s["tasks"] for s in stages),
            # the stage that ran longest sets the span's wall
            "task_skew": skew(heaviest["durations"]) if heaviest else 1.0,
        }

    def node_rows(self, spans: list[dict], name: str, desc: str = "") -> int:
        return sum(
            _count(n["metrics"].get("number of output rows"))
            for n in self.nodes(spans)
            if name in n["name"] and desc in (n["desc"] or "")
        )


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def identity_batches(batches):
    """The trivial Python stage: every Arrow batch there and back."""
    yield from batches


def _dir_files(path: str) -> list[str]:
    import os

    return [
        os.path.join(r, f) for r, _, fs in os.walk(path)
        for f in fs if f.endswith(".parquet")
    ]


def english_pages(path: str):
    import pandas as pd
    import pyarrow.parquet as pq

    pages = pd.concat(
        [pq.read_table(f).to_pandas() for f in sorted(_dir_files(path))],
        ignore_index=True,
    )
    return pages[pages["lang"] == "en"].reset_index(drop=True)


def kernel_metrics(pages, tagger, batch_rows: int = 4096) -> dict:
    """Direct single-thread kernel calls on the workload's own pages,
    cut into the Arrow batch size the session uses."""
    import pandas as pd

    from remediner_spark.kernels import webtext
    from remediner_spark.kernels.normalize import normalize_series

    matcher = tagger.batch_matcher()
    secs = {"extract_text": 0.0, "split": 0.0, "normalize": 0.0, "pairs": 0.0}
    n_sent = n_pairs = 0
    for lo in range(0, len(pages), batch_rows):
        html = pages["html"].iloc[lo : lo + batch_rows].reset_index(drop=True)
        t0 = time.perf_counter()
        text = webtext.extract_text(html)
        t1 = time.perf_counter()
        flat, _ = webtext.split_sentences_flat(text)
        t2 = time.perf_counter()
        norm = normalize_series(pd.Series(flat, dtype=object))
        t3 = time.perf_counter()
        pairs = matcher.extract_pairs(norm)
        t4 = time.perf_counter()
        for k, a, b in (("extract_text", t0, t1), ("split", t1, t2),
                        ("normalize", t2, t3), ("pairs", t3, t4)):
            secs[k] += b - a
        n_sent += len(flat)
        n_pairs += len(pairs)
    kpages = len(pages) / 1000
    return {
        "kernels.webtext.extract_text.ms_per_kpage":
            secs["extract_text"] * 1000 / kpages,
        "kernels.webtext.split_sentences_flat.ms_per_kpage":
            secs["split"] * 1000 / kpages,
        "kernels.normalize.normalize_series.ms_per_kpage":
            secs["normalize"] * 1000 / kpages,
        "kernels.tagmatch.extract_pairs.ms_per_kpage":
            secs["pairs"] * 1000 / kpages,
        "kernels.sentences_per_kpage": n_sent / kpages,
        "kernels.pairs_per_kpage": n_pairs / kpages,
    }


def rung(spark, tracer: Tracer, name: str, action):
    """One rung of a traced rep: caches released, then ``action`` (which
    materializes something) inside a span; returns its result."""
    from remediner_spark.session import release_caches

    release_caches(spark)
    with tracer.span(name):
        return action()


@contextmanager
def patched(module, name: str, wrap):
    """``module.name`` replaced by ``wrap(original)`` inside the block;
    callers that look the attribute up at call time get the wrapper."""
    orig = getattr(module, name)
    setattr(module, name, wrap(orig))
    try:
        yield
    finally:
        setattr(module, name, orig)


def spanned(tracer: Tracer, name: str):
    """Wrapper factory: a span around every call."""
    def wrap(fn):
        def call(*a, **k):
            with tracer.span(name):
                return fn(*a, **k)
        return call
    return wrap


class TableCalls:
    """Spans and written/scanned file counts for the table layer."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self.writes: list[dict] = []
        self.scanned = 0

    def write(self, orig):
        import os

        import pyarrow.parquet as pq

        def write_table(df, path, *a, **k):
            with self.tracer.span("sources.table.write_table"):
                snap = orig(df, path, *a, **k)
            files = _dir_files(
                os.path.join(path, "data", f"commit={snap['commit']}")
            )
            self.writes.append({
                "files": len(files),
                "bytes": sum(os.path.getsize(f) for f in files),
                "rows": sum(pq.ParquetFile(f).metadata.num_rows for f in files),
            })
            return snap
        return write_table

    def read(self, orig):
        def read_table(*a, **k):
            with self.tracer.span("sources.table.read_table"):
                df = orig(*a, **k)
            self.scanned += len(df.inputFiles())
            return df
        return read_table

    def patch(self) -> ExitStack:
        from remediner_spark.sources import table

        stack = ExitStack()
        stack.enter_context(patched(table, "write_table", self.write))
        stack.enter_context(patched(table, "read_table", self.read))
        return stack

    def metrics(self) -> dict:
        t = self.tracer
        return {
            "sources.table.write_table.s": t.total("sources.table.write_table"),
            "sources.table.write_table.calls": len(self.writes),
            "sources.table.write_table.files":
                sum(w["files"] for w in self.writes),
            "sources.table.write_table.bytes":
                sum(w["bytes"] for w in self.writes),
            "sources.table.read_table.s": t.total("sources.table.read_table"),
            "sources.table.read_table.files_scanned": self.scanned,
        }


def _stage_runs(att: Attribution, tracer: Tracer, rung: str,
                one_pass: int) -> float:
    """Python-stage passes over each input split: rows the stage
    emitted in the rung over the rows one pass yields."""
    rows = att.node_rows(tracer.named(rung), "MapInPandas")
    return rows / one_pass if one_pass else 0.0


def ladder_extract(runner, tracer: Tracer) -> dict:
    """scan -> trivial mapInPandas -> fused stage -> audit -> job write."""
    from remediner_spark.operators.ner import (
        extract_triples_stage,
        with_inverse_triples,
    )
    from remediner_spark.operators.text import (
        extraction_mismatch_count,
        filter_language,
    )

    spark, wl = runner.spark, runner.wl

    def english():
        return filter_language(spark.read.parquet(wl.pages_path))

    def pruned():
        # the columns extract_triples_stage ships to Python
        return english().select("url", "warc_ts", "html")

    rows = rung(spark, tracer, "sources.scan", lambda: pruned().count())
    rung(spark, tracer, "operators.ner.arrow_roundtrip", lambda: noop(
        pruned().mapInPandas(identity_batches, pruned().schema)
    ))
    rung(spark, tracer, "operators.ner.extract_triples_stage", lambda: noop(
        extract_triples_stage(english(), wl.tagger_bc, extract_html=True)
    ))
    mism = rung(spark, tracer, "operators.text.extraction_mismatch_count",
                lambda: extraction_mismatch_count(english()))
    out = runner.fresh_dir()
    rung(spark, tracer, "job.triples_write", lambda: with_inverse_triples(
        extract_triples_stage(english(), wl.tagger_bc, extract_html=True)
    ).write.mode("overwrite").partitionBy("pred").parquet(f"{out}/triples"))
    n_causes = spark.read.parquet(f"{out}/triples").filter(
        "pred = 'CAUSES'"
    ).count()
    runner.record(wl.check(
        spark, RepResult(wl.n_pages, n_causes, state={"mismatches": mism}), out
    ), 1)
    w = {s["name"]: tracer.total(s["name"]) for s in tracer.spans}
    return {
        "pages_dir": wl.pages_path,
        "tagger_bc": wl.tagger_bc,
        "metrics": {
            "sources.scan.s": w["sources.scan"],
            "sources.scan.rows_out": rows,
            "operators.ner.arrow_roundtrip.s":
                w["operators.ner.arrow_roundtrip"] - w["sources.scan"],
            "operators.ner.extract_triples_stage.s":
                w["operators.ner.extract_triples_stage"]
                - w["operators.ner.arrow_roundtrip"],
            "operators.ner.extract_triples_stage.triples_per_kpage":
                n_causes / (wl.n_pages / 1000),
            "operators.text.extraction_mismatch_count.s":
                w["operators.text.extraction_mismatch_count"]
                - w["sources.scan"],
            "job.triples_write.s":
                w["job.triples_write"]
                - w["operators.ner.extract_triples_stage"],
        },
        "derive": lambda att: {
            "operators.ner.stage_runs_per_split":
                _stage_runs(att, tracer, "job.triples_write", n_causes),
        },
    }


def ladder_stream(spark, tracer: Tracer, wl, out: str):
    """One stream_edge_weights drain with spans around the merge
    function (wrapped through the module attribute)."""
    from remediner_spark import streaming

    def traced_merge_fn(orig):
        def edge_merge_fn(*a, **k):
            return spanned(tracer, "streaming.edge_merge")(orig(*a, **k))
        return edge_merge_fn

    with patched(streaming, "edge_merge_fn", traced_merge_fn):
        res = rung(spark, tracer, "streaming.stream_edge_weights",
                   lambda: wl.drain(spark, out))
    progress = res.state["progress"]

    def med_ms(key: str) -> float:
        return statistics.median(
            float(p["durationMs"].get(key, 0)) for p in progress
        )

    return res, {
        "streaming.batches": len(progress),
        "streaming.batch.addBatch_ms": med_ms("addBatch"),
        "streaming.batch.getBatch_ms": med_ms("getBatch"),
        "streaming.batch.queryPlanning_ms": med_ms("queryPlanning"),
        "streaming.batch.walCommit_ms": med_ms("walCommit"),
        "streaming.edge_merge.s": tracer.total("streaming.edge_merge"),
    }


def ladder_graph(spark, tracer: Tracer, wl, out: str):
    """The pipeline's calls with a materialization after each stage,
    run_stage wrapped in a span."""
    import os

    from workloads import graph_pipeline

    from remediner_spark.plans import checkpoint

    found: dict = {}

    def mark(name: str, df):
        span = {
            "scan": "sources.scan",
            "link_surfaces": "operators.linking.link_surfaces",
            "build_edges": "operators.graph.build_edges",
            "nodes_from_edges": "operators.graph.nodes_from_edges",
        }[name]
        with tracer.span(span):
            if name == "nodes_from_edges":
                noop(df)
            else:
                found[name] = df.count()
        if name == "link_surfaces":
            found["methods"] = {
                r["link_method"]: r["count"]
                for r in df.groupBy("link_method").count().collect()
            }
        return df

    stage = "plans.checkpoint.run_stage"
    with patched(checkpoint, "run_stage", spanned(tracer, stage)):
        with tracer.span("plans.pipeline"):
            m = graph_pipeline(
                spark, wl.corpus_dir, out, wl.tagger_bc, wl.n_buckets, mark,
            )
    manifest = checkpoint.read_manifest(out, "triples")
    stage_files = _dir_files(os.path.join(out, "triples"))
    methods = found["methods"]
    residual = methods.get("lsh", 0) + methods.get("unlinked", 0)
    link = "operators.linking.link_surfaces"
    edges = "operators.graph.build_edges"
    n_causes = m["n_triples"] // 2
    metrics = {
        "sources.scan.s": tracer.total("sources.scan"),
        "sources.scan.rows_out": found["scan"],
        f"{stage}.s": tracer.total(stage),
        f"{stage}.rows_in": sum(r["rows_in"] for r in manifest),
        f"{stage}.rows_out": sum(r["rows_out"] for r in manifest),
        f"{stage}.bytes_written": sum(os.path.getsize(f) for f in stage_files),
        f"{stage}.files_written": len(stage_files),
        f"{link}.s": tracer.total(link),
        f"{link}.surfaces": found["link_surfaces"],
        f"{link}.residual_surfaces": residual,
        # residual surfaces the band join resolved
        f"{link}.lsh_accept_ratio":
            methods.get("lsh", 0) / residual if residual else 0.0,
        f"{link}.dict": methods.get("dict", 0),
        f"{link}.lsh": methods.get("lsh", 0),
        f"{link}.unlinked": methods.get("unlinked", 0),
        f"{edges}.s": tracer.total(edges),
        f"{edges}.edges": found["build_edges"],
        "operators.graph.nodes_from_edges.s":
            tracer.total("operators.graph.nodes_from_edges"),
        "operators.ner.extract_triples_stage.triples_per_kpage":
            n_causes / (wl.n_pages / 1000),
    }

    def derive(att: Attribution) -> dict:
        totals = att.spark_totals(tracer.named(edges))
        return {
            f"{link}.lsh_candidates": att.node_rows(
                tracer.named(link), "Join", "band_key"
            ),
            f"{edges}.shuffle_bytes": totals["shuffle_bytes_written"],
            f"{edges}.task_skew": totals["task_skew"],
            "operators.ner.stage_runs_per_split":
                _stage_runs(att, tracer, stage, n_causes),
        }

    return m, metrics, derive


def ladder_rank(spark, tracer: Tracer, wl):
    """Outlink extraction, then each ranking function to a collected
    result, one rung each."""
    from workloads import rank_functions, rank_inputs

    pages = spark.read.parquet(wl.stream_dir)
    outlinks = "operators.linkgraph.extract_outlinks"
    n_edges = rung(
        spark, tracer, outlinks,
        lambda: rank_inputs(pages)["pagerank_dangling_fixed_point"].count(),
    )
    inputs = rank_inputs(pages)
    ranks = {
        name: rung(
            spark, tracer, name,
            lambda fn=fn, name=name: fn(
                inputs[name], iters=wl.rounds
            ).toPandas(),
        )
        for name, fn in rank_functions().items()
    }
    metrics = {
        f"{outlinks}.s": tracer.total(outlinks),
        f"{outlinks}.edges": n_edges,
        **{f"{name}.s": tracer.total(name) for name in ranks},
    }

    def derive(att: Attribution) -> dict:
        return {
            f"{name}.shuffle_bytes_per_round": att.spark_totals(
                tracer.named(name)
            )["shuffle_bytes_written"] / wl.rounds
            for name in ranks
        }

    return ranks, metrics, derive


def pipeline_reference(spark, wl, out: str) -> dict:
    """``plans.pipeline.run_pipeline`` itself over the same input: does
    it return, and do the tables it writes equal the ladder's?"""
    import os

    from workloads import frame_digest, table_frame

    from remediner_spark.plans.pipeline import run_pipeline

    ref = os.path.join(out, "run_pipeline")
    try:
        run_pipeline(
            spark, wl.corpus_dir, ref, wl.tagger_bc, n_buckets=wl.n_buckets,
        )
        raised = None
    except Exception as e:  # recorded, not raised: a finding to report
        raised = f"{type(e).__name__}: {str(e).splitlines()[0][:240]}"
    try:
        same = all(
            frame_digest(table_frame(os.path.join(ref, t)))
            == frame_digest(table_frame(os.path.join(out, t)))
            for t in ("nodes", "edges", "triples_out")
        )
    except (OSError, ValueError):  # a table it never wrote
        same = False
    return {"raised": raised, "tables_equal_ladder": same}


def traced_stream_rank(runner, tracer: Tracer) -> dict:
    """A batch scan of the staged files, the drain with the table
    layer's calls counted, then the ranking rungs."""
    from remediner_spark.operators.text import filter_language
    from remediner_spark.sources import table

    spark, wl = runner.spark, runner.wl
    rows = rung(spark, tracer, "sources.scan", lambda: filter_language(
        spark.read.parquet(wl.stream_dir)
    ).select("url", "warc_ts", "text").count())
    out = runner.fresh_dir()
    calls = TableCalls(tracer)
    with calls.patch():
        res, s_metrics = ladder_stream(spark, tracer, wl, out)
    res.state["ranks"], r_metrics, r_derive = ladder_rank(spark, tracer, wl)
    runner.record(wl.check(spark, res, out), res.operations)
    snaps = table.table_snapshots(f"{out}/table")
    return {
        "pages_dir": wl.stream_dir,
        "tagger_bc": wl.tagger_bc,
        "metrics": {
            "sources.scan.s": tracer.total("sources.scan"),
            "sources.scan.rows_out": rows,
            **s_metrics,
            # one file per touched bucket per commit
            "streaming.edge_merge.touched_buckets":
                sum(w["files"] for w in calls.writes) / max(len(calls.writes), 1),
            # rows all commits wrote over the rows the table ends with
            "streaming.edge_merge.rewrite_amplification":
                sum(w["rows"] for w in calls.writes)
                / max(snaps[-1]["total_rows"], 1),
            **calls.metrics(),
            "sources.table.snapshots": len(calls.writes),
            "operators.ner.extract_triples_stage.triples_per_kpage":
                wl.n_triples / (wl.n_pages / 1000),
            **r_metrics,
        },
        "derive": r_derive,
    }


def traced_graph(runner, tracer: Tracer) -> dict:
    """The graph ladder with the table layer's calls counted, then
    run_pipeline itself beside it."""
    spark, wl = runner.spark, runner.wl
    out = runner.fresh_dir()
    calls = TableCalls(tracer)
    with calls.patch():
        m, metrics, derive = ladder_graph(spark, tracer, wl, out)
    res = RepResult(wl.n_pages, m["n_triples"] // 2, state=m)
    runner.record(wl.check(spark, res, out), res.operations)
    reference = pipeline_reference(spark, wl, out)
    if not reference["tables_equal_ladder"]:
        runner.record("run_pipeline's tables differ from the ladder's", 1)
    return {
        "pages_dir": wl.pages_path,
        "tagger_bc": wl.tagger_bc,
        "metrics": {
            **metrics,
            **calls.metrics(),
            "sources.table.snapshots": len(calls.writes),
        },
        "derive": derive,
        "info": {"run_pipeline": reference},
    }


LADDERS = {
    "extract": ladder_extract,
    "stream_rank": traced_stream_rank,
    "graph_wide_vocab": traced_graph,
}


def _one_core_pages_per_s(runner) -> float:
    """pages/s at one core on the same input: restart, warmup, one rep."""
    runner.start(1)
    runner.rep()
    res, wall, _ = runner.rep()
    return res.pages / wall


def traced_run(runner) -> dict:
    """Set up once, time an untraced rep, then one traced rep (the
    ladder), kernel calls, the one-core reps (extract), and the status
    store."""
    from run import set_up, spec_units

    wl = runner.wl
    setup_s = set_up(runner)
    untraced, untraced_wall, _ = runner.rep()

    tracer = Tracer()
    tracer.rep = 1
    since = time.time()
    with tracer.span(f"{wl.name}.traced_rep"):
        found = LADDERS[wl.name](runner, tracer)
    root = tracer.named(f"{wl.name}.traced_rep")[0]
    traced_wall = root["end"] - root["start"]
    att = Attribution(tracer, SparkCounts(runner.spark), since)

    units = spec_units("per_layer")
    # 0 means the workload does not call that layer
    metrics = {k: 0.0 for k in units}
    metrics.update(found["metrics"])
    metrics.update(found["derive"](att))
    metrics.update({
        f"spark.{k}": v for k, v in att.spark_totals([root]).items()
    })
    metrics["trace.overhead_s"] = traced_wall - untraced_wall
    metrics.update(kernel_metrics(
        english_pages(found["pages_dir"]), found["tagger_bc"].value
    ))
    if wl.name == "extract":
        metrics["scaling_eff_1to4"] = untraced.pages / untraced_wall / (
            runner.cores * _one_core_pages_per_s(runner)
        )
    runner.stop()

    return {
        "metrics": {k: (metrics[k], u) for k, u in units.items()},
        "info": {
            "setup_s": round(setup_s, 3),
            "untraced_wall_s": round(untraced_wall, 4),
            "traced_wall_s": round(traced_wall, 4),
            "rungs_s": {
                s["name"]: round(s["end"] - s["start"], 4)
                for s in tracer.spans if s["parent"] == root["id"]
            },
            **found.get("info", {}),
        },
        "sidecar": {
            "spans": [
                {**s, "self_s": round(tracer.self_time(s), 6)}
                for s in sorted(tracer.spans, key=lambda s: s["start"])
            ],
        },
    }
