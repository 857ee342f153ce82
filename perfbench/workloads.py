"""The benchmark's workloads: seeded inputs, one rep, and its check.

A rep is one batch job over the workload's whole input, run the way a
user runs it: job.py's triples path, ``plans.pipeline.run_pipeline``,
``streaming.stream_edge_weights`` draining staged files, or the
link-graph ranking loops. ``rep`` is the timed part; ``check`` runs
after the clock stops and decides whether the rep's output is correct.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import pandas as pd

import gen

INTERNAL_PREFIX = "https://example.org/doc/"


@dataclass
class RepResult:
    pages: int
    triples: int
    # per-micro-batch trigger times; empty for single-job reps
    batch_ms: list[float] = field(default_factory=list)
    state: dict = field(default_factory=dict)

    @property
    def operations(self) -> int:
        """A rep is one operation, and each micro-batch it ran another."""
        return 1 + len(self.batch_ms)


def frame_digest(pdf: pd.DataFrame) -> str:
    """Order-independent content hash of a collected frame: the row
    count and the wrapping sum of per-row hashes over sorted columns."""
    cols = sorted(pdf.columns)
    flat = pdf[cols].copy()
    for c in cols:
        if pd.api.types.is_datetime64_any_dtype(flat[c]):
            col = flat[c]
            if col.dt.tz is not None:
                col = col.dt.tz_convert("UTC").dt.tz_localize(None)
            flat[c] = col.astype("datetime64[ns]").astype("int64")
        elif flat[c].dtype == object:
            # list cells (sample_urls) hash as their joined text
            flat[c] = flat[c].map(
                lambda v: "\x1f".join(map(str, v)) if hasattr(v, "__len__")
                and not isinstance(v, str) else v
            )
    row_hash = pd.util.hash_pandas_object(flat, index=False)
    return f"{len(flat)}:{int(row_hash.sum()) & (2**64 - 1):016x}"


class Workload:
    name = ""
    # untimed reps after the session starts, inside setup_s: the JIT
    # keeps speeding reps up for several reps after a cold start
    warmup_reps = 2
    # timed reps at least, however short --seconds is
    min_reps = 3

    def __init__(self, seed: int, in_dir: str):
        self.seed = seed
        self.in_dir = in_dir
        self.digest: str | None = None

    def generate(self) -> None:
        raise NotImplementedError

    def setup(self, spark) -> None:
        raise NotImplementedError

    def rep(self, spark, out: str) -> RepResult:
        raise NotImplementedError

    def check(self, spark, res: RepResult, out: str) -> str | None:
        """None when the output is correct, else why it is not."""
        raise NotImplementedError

    def same_as_first(self, digest: str) -> bool:
        if self.digest is None:
            self.digest = digest
        return digest == self.digest


def write_gold(ann: pd.DataFrame, path: str) -> str:
    """gold.gold_triples of the annotations, as parquet for the checks."""
    from remediner_spark.gold import gold_triples

    gold_triples(ann).to_parquet(path, index=False)
    return path


def _pr_failure(spark, causes, gold_path: str) -> str | None:
    from remediner_spark.metrics import triple_precision_recall

    pr = triple_precision_recall(causes, spark.read.parquet(gold_path))
    if pr["precision"] == 1.0 and pr["recall"] == 1.0:
        return None
    return f"P/R {pr['precision']:.4f}/{pr['recall']:.4f}"


class Extract(Workload):
    """job.py's triples path over the narrow-vocabulary corpus."""

    name = "extract"
    n_pages = 10_000
    n_files = 10
    warmup_reps = 3
    min_reps = 4

    def generate(self) -> None:
        pages, ann = gen.narrow_corpus(self.n_pages, self.seed)
        self.pages_path = os.path.join(self.in_dir, "pages.parquet")
        gen.write_page_files(pages, self.pages_path, self.n_files)
        self.gold = write_gold(ann, os.path.join(self.in_dir, "gold.parquet"))

    def setup(self, spark) -> None:
        from remediner_spark.plans.pipeline import default_tagger_bc

        self.tagger_bc = default_tagger_bc(spark)

    def rep(self, spark, out: str) -> RepResult:
        # job.py main(), triples path, step for step
        from remediner_spark.operators.ner import (
            extract_triples_stage,
            with_inverse_triples,
        )
        from remediner_spark.operators.text import (
            extraction_mismatch_count,
            filter_language,
        )

        pages = spark.read.parquet(self.pages_path)
        english = filter_language(pages).cache()
        english.count()
        mismatches = extraction_mismatch_count(english)
        triples = with_inverse_triples(
            extract_triples_stage(english, self.tagger_bc, extract_html=True)
        )
        triples.write.mode("overwrite").partitionBy("pred").parquet(
            f"{out}/triples"
        )
        n_triples = spark.read.parquet(f"{out}/triples").count()
        english.unpersist()
        # the inverse view doubles every CAUSES triple
        return RepResult(
            self.n_pages, n_triples // 2, state={"mismatches": mismatches}
        )

    def check(self, spark, res: RepResult, out: str) -> str | None:
        """The first rep is scored against the gold; every later rep
        must write the same CAUSES triples as that verified one."""
        import pyarrow.parquet as pq

        if res.state["mismatches"]:
            return f"{res.state['mismatches']} extraction mismatches"
        digest = frame_digest(
            pq.read_table(f"{out}/triples/pred=CAUSES").to_pandas()
        )
        if self.digest is None:
            causes = spark.read.parquet(f"{out}/triples").filter(
                "pred = 'CAUSES'"
            )
            bad = _pr_failure(spark, causes, self.gold)
            if bad:
                return bad
        if not self.same_as_first(digest):
            return "CAUSES triples differ from the first rep's"
        return None


def table_frame(path: str) -> pd.DataFrame:
    """A table's current snapshot, read from its manifest with pyarrow."""
    import pyarrow.parquet as pq

    from remediner_spark.sources.table import live_files

    return pd.concat(
        [pq.read_table(f["path"]).to_pandas() for f in live_files(path)],
        ignore_index=True,
    )


def graph_pipeline(
    spark, corpus_dir: str, out: str, tagger_bc, n_buckets: int, mark=None
) -> dict:
    """``plans.pipeline.run_pipeline(checkpoint=True)``, call for call.

    run_pipeline itself ends by counting the edges table through
    ``read_table``, which fails on this tree: the table's
    ``sample_urls array<string>`` column cannot be cast back to its
    recorded type. The edge count here comes from the snapshot record
    instead; everything before it is the same sequence of calls.
    ``mark(name, df)`` is the traced run's materialization point."""
    from pyspark.sql import functions as F

    from remediner_spark.operators.graph import (
        build_edges,
        link_triples,
        nodes_from_edges,
    )
    from remediner_spark.operators.linking import (
        attach_surface_links,
        link_surfaces,
        mentions_from_triples,
        normalized_surface,
    )
    from remediner_spark.operators.ner import (
        extract_triples_stage,
        with_inverse_triples,
    )
    from remediner_spark.operators.text import filter_language
    from remediner_spark.plans.checkpoint import run_stage
    from remediner_spark.sources import table

    mark = mark or (lambda name, df: df)
    english = mark("scan", filter_language(
        spark.read.parquet(os.path.join(corpus_dir, "pages.parquet"))
    ))
    triples = run_stage(
        spark, "triples", english,
        lambda df: extract_triples_stage(df, tagger_bc, extract_html=True),
        out, n_buckets,
    )
    dictionary = spark.read.parquet(
        os.path.join(corpus_dir, "entity_dictionary.parquet")
    )
    mentions = mentions_from_triples(triples)
    surfaces = (
        mentions.withColumn("surface_norm", normalized_surface("surface"))
        .select("surface_norm", "entity_type")
        .dropDuplicates()
    )
    surface_links = mark(
        "link_surfaces", link_surfaces(surfaces, dictionary).cache()
    )
    linked = attach_surface_links(mentions, surface_links)
    edges = mark(
        "build_edges",
        build_edges(link_triples(triples, surface_links)).cache(),
    )
    nodes = mark("nodes_from_edges", nodes_from_edges(edges, surface_links))
    table.write_table(nodes, os.path.join(out, "nodes"), mode="overwrite")
    snap = table.write_table(edges, os.path.join(out, "edges"), mode="overwrite")
    table.write_table(
        with_inverse_triples(triples), os.path.join(out, "triples_out"),
        mode="overwrite", partition_by=["pred"],
    )
    link_counts = {
        r["link_method"]: r["n"]
        for r in linked.groupBy("link_method")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    return {
        "n_triples": table.read_table(
            spark, os.path.join(out, "triples_out")
        ).count(),
        "n_nodes": table.read_table(spark, os.path.join(out, "nodes")).count(),
        "n_edges": snap["total_rows"],
        "link_counts": link_counts,
    }


def rank_inputs(pages):
    """The edge frames each ranking function takes, shaped as the
    repo's web_* queries shape them."""
    from pyspark.sql import functions as F

    from remediner_spark.operators.linkgraph import extract_outlinks

    links = extract_outlinks(pages)
    internal = links.where(F.col("dst_url").startswith(INTERNAL_PREFIX))
    pairs = internal.select(
        F.col("src_url").alias("src"), F.col("dst_url").alias("dst")
    )
    weighted = (
        pairs.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("w"))
    )
    hosts = (
        links.select(
            F.regexp_extract("src_url", "https://([^/]+)", 1).alias("src"),
            F.regexp_extract("dst_url", "https://([^/]+)", 1).alias("dst"),
        )
        .where(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("w"))
    )
    return {
        "pagerank_fixed_point": pairs,
        "pagerank_weighted_fixed_point": weighted,
        "pagerank_dangling_fixed_point": links.select(
            F.col("src_url").alias("src"), F.col("dst_url").alias("dst")
        ),
        "pagerank_weighted_dangling_fixed_point": hosts,
        "hits_fixed_point": pairs.where(F.col("src") != F.col("dst")).distinct(),
    }


# ranking function -> its module under remediner_spark.operators
RANK_FUNCTIONS = {
    "pagerank_fixed_point": "components",
    "pagerank_weighted_fixed_point": "linkgraph",
    "pagerank_dangling_fixed_point": "linkgraph",
    "pagerank_weighted_dangling_fixed_point": "linkgraph",
    "hits_fixed_point": "linkgraph",
}


def rank_functions() -> dict:
    import importlib

    return {
        name: getattr(
            importlib.import_module(f"remediner_spark.operators.{module}"), name
        )
        for name, module in RANK_FUNCTIONS.items()
    }


class GraphWideVocab(Workload):
    """The checkpointed pipeline over a coined vocabulary of thousands
    of terms per type. Not listed in BENCHMARK.json: a run takes longer
    than the benchmark's time budget allows (see README.md)."""

    name = "graph_wide_vocab"
    n_pages = 3_000
    n_files = 8
    n_terms = 3_000
    n_buckets = 32  # run_pipeline's default

    def generate(self) -> None:
        w = gen.wide_corpus(self.n_pages, self.seed, self.n_terms, self.n_terms)
        self.corpus_dir = os.path.join(self.in_dir, "corpus")
        self.pages_path = f"{self.corpus_dir}/pages.parquet"
        gen.write_page_files(w["pages"], self.pages_path, self.n_files)
        w["dictionary"].to_parquet(
            f"{self.corpus_dir}/entity_dictionary.parquet", index=False
        )
        self.lexicons = (w["tagger_drugs"], w["tagger_effects"])
        self.gold = write_gold(
            w["annotations"], os.path.join(self.in_dir, "gold.parquet")
        )

    def setup(self, spark) -> None:
        from remediner_spark.operators.ner import GazetteerTagger

        self.tagger_bc = spark.sparkContext.broadcast(
            GazetteerTagger(*self.lexicons)
        )

    def rep(self, spark, out: str) -> RepResult:
        m = graph_pipeline(
            spark, self.corpus_dir, out, self.tagger_bc, self.n_buckets
        )
        return RepResult(self.n_pages, m["n_triples"] // 2, state=m)

    def check(self, spark, res: RepResult, out: str) -> str | None:
        from remediner_spark.sources.table import read_table

        causes = read_table(spark, f"{out}/triples_out").filter(
            "pred = 'CAUSES'"
        )
        bad = _pr_failure(spark, causes, self.gold)
        if bad:
            return bad
        nodes, edges = table_frame(f"{out}/nodes"), table_frame(f"{out}/edges")
        if int(edges["weight"].sum()) != res.triples:
            return f"edge weight {edges['weight'].sum()} != {res.triples} triples"
        digest = frame_digest(nodes) + frame_digest(edges)
        if not self.same_as_first(digest):
            return "node/edge digest differs from the first rep"
        return None


class StreamRank(Workload):
    """New page files arrive: stream_edge_weights folds their triples
    into a bucketed edge table, micro-batch by micro-batch, then every
    PageRank variant and HITS ranks the same pages' link graph."""

    name = "stream_rank"
    n_pages = 1_600
    n_files = 16  # stream_pages takes 8 files per trigger: 2 micro-batches
    n_buckets = 8  # stream_edge_weights' default
    rounds = 1  # every ranking function's iters

    def generate(self) -> None:
        pages, _ = gen.narrow_corpus(self.n_pages, self.seed)
        self.stream_dir = os.path.join(self.in_dir, "stream")
        gen.write_page_files(
            gen.with_outlinks(pages), self.stream_dir, self.n_files,
            seed=self.seed,
        )
        self.expected: str | None = None
        self.n_triples = 0

    def setup(self, spark) -> None:
        from remediner_spark.plans.pipeline import default_tagger_bc

        self.tagger_bc = default_tagger_bc(spark)

    def _expect(self, spark) -> None:
        """The batch aggregation over the same files' triples."""
        from pyspark.sql import functions as F

        from remediner_spark.operators.ner import extract_triples_stage
        from remediner_spark.operators.text import filter_language

        want = (
            extract_triples_stage(
                filter_language(spark.read.parquet(self.stream_dir)),
                self.tagger_bc,
            )
            .groupBy("subj", "pred", "obj")
            .agg(
                F.count(F.lit(1)).alias("weight"),
                F.min("warc_ts").alias("first_seen"),
            )
            .toPandas()
        )
        self.expected = frame_digest(want)
        self.n_triples = int(want["weight"].sum())

    def drain(self, spark, out: str) -> RepResult:
        from remediner_spark import streaming

        q = streaming.stream_edge_weights(
            spark, self.stream_dir, f"{out}/table", f"{out}/ckpt",
            self.tagger_bc, n_buckets=self.n_buckets,
        )
        q.awaitTermination()
        batches = [
            p for p in q.recentProgress if p.get("numInputRows", 0) > 0
        ]
        return RepResult(
            self.n_pages,
            0,  # set by check
            batch_ms=[float(p["durationMs"]["triggerExecution"]) for p in batches],
            state={"progress": batches},
        )

    def rank(self, spark) -> dict:
        inputs = rank_inputs(spark.read.parquet(self.stream_dir))
        return {
            name: fn(inputs[name], iters=self.rounds).toPandas()
            for name, fn in rank_functions().items()
        }

    def rep(self, spark, out: str) -> RepResult:
        res = self.drain(spark, out)
        res.state["ranks"] = self.rank(spark)
        return res

    def check(self, spark, res: RepResult, out: str) -> str | None:
        """One snapshot per micro-batch, the final edge table equal to a
        batch groupBy over the files' triples, and every function's
        ranks equal to the first rep's. Also fills ``res.triples``: the
        triples the files hold."""
        from remediner_spark.sources.table import read_table, table_snapshots

        ranks = res.state.pop("ranks")
        if self.expected is None:
            self._expect(spark)
        res.triples = self.n_triples
        n_snaps = len(table_snapshots(f"{out}/table"))
        if n_snaps != len(res.batch_ms):
            return f"{n_snaps} snapshots for {len(res.batch_ms)} micro-batches"
        got = (
            read_table(spark, f"{out}/table")
            .select("subj", "pred", "obj", "weight", "first_seen")
            .toPandas()
        )
        if frame_digest(got) != self.expected:
            return "edge table differs from the batch groupBy"
        empty = [k for k, v in ranks.items() if v.empty]
        if empty:
            return f"no ranks from {empty}"
        digest = "".join(frame_digest(ranks[k]) for k in sorted(ranks))
        if not self.same_as_first(digest):
            return "rank digest differs from the first rep"
        return None


WORKLOADS = {w.name: w for w in (Extract, StreamRank, GraphWideVocab)}
