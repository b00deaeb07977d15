"""The two workloads, their output checks and their traced variants.

Every run measures one pass of its workload in a fresh JVM, the way a
spark-submit job runs: JVM warm-up is part of what a user waits for.
``run`` returns the pass's wall, the checks made on its outputs (each one
attempted operation), figures to print and, in traced mode, the extras of
the per-layer report.

Traced mode (``tracer`` given) traces that same first pass, then times two
equal later passes, the first traced and the second untraced, for the
tracing overhead.  Traced goes first so that JVM warm-up favours the
untraced side; README.md names the bias the other way on kg_build.
"""

from __future__ import annotations

import hashlib
import os
import sys
import time
from contextlib import contextmanager

import pyarrow.compute as pc
import pyarrow.dataset as pads
from pyspark.sql import functions as F

import relation_extraction_using_llms_spark.plans.checkpointed as checkpointed_mod
import relation_extraction_using_llms_spark.sources.tables as tables_mod
from relation_extraction_using_llms_spark.functions.textnorm import mention_in_text
from relation_extraction_using_llms_spark.operators.canonicalize import (
    canonical_mapping,
    materialize_triples,
)
from relation_extraction_using_llms_spark.plans.checkpointed import run_checkpointed
from relation_extraction_using_llms_spark.plans.pipeline import PipelineConfig
from relation_extraction_using_llms_spark.plans.reports import write_graph_tables

from spans import Tracer

# The scripts/run_pipeline.py defaults (IO+ReAct x stub-large, exact+text,
# typed matching only) and run_checkpointed's default 32 buckets.  Shuffle
# partitions are get_spark's default for local[4], 8, not run_pipeline.py's
# 32: on 4 cores 32 partitions made the pass 95 s instead of 64 s, too long
# for the benchmark's run budget (see README.md).
KG = {
    "pages": 200,
    "edited_pages": 8,
    "techniques": ["IO", "ReAct"],
    "models": ["stub-large"],
    "strategies": ["exact", "text"],
    "n_buckets": 32,
    "shuffle_partitions": 8,
}
# scripts/corpus_prep.py's default 8 shuffle partitions.
CORPUS = {"base_docs": 500, "replicas": 4, "shuffle_partitions": 8}

# checkpointed stage -> the layer whose function computes it
STAGE_LAYER = {
    "clean_text": "extraction",
    "gold_entities": "gold_normalize",
    "gold_relations": "gold_normalize",
    "triples": "parsing",
    "candidates": "entity_catalog",
    "resolved": "linking",
    "counts": "matching",
    "eval_per_doc": "metrics",
    "eval_aggregate": "metrics",
}
# run_chain's checkpoint calls, in order: (stage, layer, survivor count)
CHAIN_STAGES = [
    ("quality", "textstats", "after_quality"),
    ("pii", "corpus", "after_quality"),
    ("exact_dedup", "dedup", "after_exact_dedup"),
    ("near_dedup", "dedup", "after_near_dedup"),
    ("decontamination", "dedup", "after_decontamination"),
]


def _dataset(path: str):
    return pads.dataset(path, format="parquet", partitioning="hive")


def rows_in(path: str) -> int:
    return _dataset(path).count_rows()


def table_digest(path: str) -> list:
    """[rows, order-insensitive digest] of a parquet table; the bucket
    column is dropped and doubles are rounded to 6 places (sums of doubles
    may differ in the last bits between partition layouts)."""
    table = _dataset(path).to_table()
    cols = sorted(c for c in table.column_names if c != "part")
    rows = sorted(
        repr(tuple(round(v, 6) if isinstance(v, float) else v for v in rec.values()))
        for rec in table.select(cols).to_pylist()
    )
    return [len(rows), hashlib.sha256("\n".join(rows).encode()).hexdigest()[:16]]


class Checks:
    """Output checks, each one attempted operation."""

    def __init__(self):
        self.attempted = 0
        self.failures: list[str] = []

    def check(self, name: str, ok: bool, detail="") -> None:
        self.attempted += 1
        if not ok:
            self.failures.append(f"{name}: {detail}")
            print(f"CHECK FAILED {name}: {detail}", file=sys.stderr)


def table_model(responses_path: str):
    """Served-model stand-in over the pre-generated response table, keyed
    (url, technique, model) like ``stub_model.make_stub_model``."""

    def model_fn(prompts_df):
        responses = prompts_df.sparkSession.read.parquet(responses_path)
        return prompts_df.join(responses, ["url", "technique", "model"], "left").withColumn(
            "response", F.coalesce(F.col("response"), F.lit(""))
        )

    return model_fn


@contextmanager
def patched(module, **replacements):
    saved = {name: getattr(module, name) for name in replacements}
    for name, fn in replacements.items():
        setattr(module, name, fn)
    try:
        yield
    finally:
        for name, fn in saved.items():
            setattr(module, name, fn)


def timed(fn, *args, **kwargs):
    t = time.perf_counter()
    out = fn(*args, **kwargs)
    return time.perf_counter() - t, out


class KgBuild:
    """Checkpointed KG build of the pages into an empty workdir, then the
    graph tables; traced mode adds two resumes, each after 8 pages change."""

    # traced-mode extras of the per-layer report
    EXTRAS = ("trace.overhead_s", "lineage.resume_s", "lineage.recompute_ratio",
              "llm_cache.hit_ratio", "parsing.valid_ratio", "linking.resolved_ratio")

    def __init__(self, spark, inputs: str, facts: dict, run_dir: str):
        self.spark = spark
        self.facts = facts
        self.run_dir = run_dir
        self.cfg = PipelineConfig(
            techniques=KG["techniques"],
            models=KG["models"],
            strategies=KG["strategies"],
            with_types_variants=(True,),
        )
        self.model_fn = table_model(f"{inputs}/responses")
        self.inputs = inputs
        self.pages = spark.read.parquet(f"{inputs}/pages")
        self.workdir = f"{run_dir}/ckpt"
        self.n_forced = 0

    def _checkpointed(self, pages) -> None:
        run_checkpointed(self.spark, pages, self.workdir, self.cfg, model_fn=self.model_fn,
                         n_buckets=KG["n_buckets"])

    def _graph(self, tracer: Tracer | None) -> None:
        catalog = self.spark.read.parquet(f"{self.workdir}/candidates")
        resolved = self.spark.read.parquet(f"{self.workdir}/resolved")
        triples = materialize_triples(resolved, canonical_mapping(catalog))
        if tracer is None:
            write_graph_tables(triples, f"{self.run_dir}/graph")
            return
        with tracer.span("canonicalize", "graph"):
            triples = self._force(tracer, "canonicalize", "triples", triples)
        with tracer.span("reports", "graph"):
            write_graph_tables(triples, f"{self.run_dir}/graph")
        tracer.add_rows("reports", rows_in(f"{self.run_dir}/graph/edges"))

    def _force(self, tracer: Tracer, layer: str, name: str, df):
        """Write a layer's lazy output and read it back, so the layer's own
        jobs run inside its span (as bench.run_stages times stages)."""
        self.n_forced += 1
        path = f"{self.run_dir}/forced/{name}-{self.n_forced}"
        df.write.parquet(path)
        tracer.add_rows(layer, rows_in(path))
        return self.spark.read.parquet(path)

    @contextmanager
    def _traced(self, tracer: Tracer | None, name: str):
        """Wrap the layer calls run_checkpointed makes in spans."""
        if tracer is None:
            yield
            return
        orig_stage = checkpointed_mod.checkpointed_stage
        orig_fetch = checkpointed_mod.fetch_and_cache
        orig_prompts = checkpointed_mod.build_prompts

        def stage(ledger, stage_name, work_df, key_col, out_path, compute):
            def traced_compute(pending):
                layer = STAGE_LAYER[stage_name]
                with tracer.span(layer, stage_name):
                    return self._force(tracer, layer, stage_name, compute(pending))

            with tracer.span("lineage", stage_name):
                return orig_stage(ledger, stage_name, work_df, key_col, out_path, traced_compute)

        def fetch(prompts_df, cache_path, model_fn=None):
            with tracer.span("llm_cache", "responses"):
                return orig_fetch(prompts_df, cache_path, model_fn)

        def prompts(*args, **kwargs):
            with tracer.span("prompts", "prompts"):
                return self._force(tracer, "prompts", "prompts", orig_prompts(*args, **kwargs))

        with patched(checkpointed_mod, checkpointed_stage=stage, fetch_and_cache=fetch,
                     build_prompts=prompts), tracer.span("root", name):
            yield

    def _state(self) -> dict:
        resolved = f"{self.workdir}/resolved"
        ids = _dataset(resolved).to_table(columns=["head_id", "tail_id"])
        linked = pc.and_(pc.is_valid(ids.column("head_id")), pc.is_valid(ids.column("tail_id")))
        return {
            "resolved": table_digest(resolved),
            "aggregate": table_digest(f"{self.workdir}/eval_aggregate"),
            "linked_rows": pc.sum(linked).as_py() or 0,
        }

    def run(self, tracer: Tracer | None, expected: dict | None) -> dict:
        checks = Checks()
        with self._traced(tracer, "build"):
            cold_s, _ = timed(self._checkpointed, self.pages)
            graph_s, _ = timed(self._graph, tracer)
        wall_s = cold_s + graph_s
        built = self._state()
        edges = rows_in(f"{self.run_dir}/graph/edges")
        n_combos = len(KG["techniques"]) * len(KG["models"])
        checks.check("aggregate_rows", built["aggregate"][0] == n_combos * len(KG["strategies"]),
                     built["aggregate"])
        checks.check("edges_equal_linked_rows", edges == built["linked_rows"],
                     (edges, built["linked_rows"]))
        pinned = {"resolved": built["resolved"], "aggregate": built["aggregate"], "edges": edges}
        if expected is not None:
            checks.check("pinned", pinned == expected, (pinned, expected))
        out = {
            "checks": checks,
            "wall_s": wall_s,
            "docs_per_s": self.facts["pages"] / wall_s,
            "pinned": pinned,
            "info": {
                "cold_s": cold_s,
                "graph_s": graph_s,
                "triples_per_s": built["resolved"][0] / cold_s,
                "resolved_rows": built["resolved"][0],
                "edges": edges,
            },
        }
        if tracer is not None:
            out["extras"] = self._resumes(tracer, checks, built)
            out["extras"].update(self._ratios())
        out["info"]["ledger_stage_s"] = ledger_stage_seconds(f"{self.workdir}/ledger")
        return out

    def _resumes(self, tracer: Tracer, checks: Checks, built: dict) -> dict:
        """Two resumes, each after 8 more pages change: traced, then
        untraced.  Both recompute every stage the edit reaches, so their
        walls differ by the tracing overhead, forced writes included.
        Every resume must leave the tables a clean run gives (see
        inputs.py)."""
        ledger, cache = f"{self.workdir}/ledger", f"{self.workdir}/llm_cache"
        # after the build the cache holds one row per prompt
        built_cache, built_ledger = rows_in(cache), rows_in(ledger)
        tracer.add_rows("llm_cache", built_cache)
        tracer.add_rows("lineage", built_ledger)
        misses_expected = KG["edited_pages"] * len(KG["techniques"]) * len(KG["models"])
        walls = {}
        for name, traced in (("edit1", True), ("edit2", False)):
            pages = self.spark.read.parquet(f"{self.inputs}/pages_{name}")
            cache_rows, ledger_rows = rows_in(cache), rows_in(ledger)
            with self._traced(Tracer(self.spark) if traced else None, name):
                walls[name], _ = timed(self._checkpointed, pages)
            misses, redone = rows_in(cache) - cache_rows, rows_in(ledger) - ledger_rows
            checks.check(f"resume_{name}_equals_clean_run", self._state() == built)
            checks.check(f"resume_{name}_cache_misses", misses == misses_expected, misses)
        return {
            "trace.overhead_s": walls["edit1"] - walls["edit2"],
            "lineage.resume_s": walls["edit2"],
            "lineage.recompute_ratio": redone / built_ledger,
            "llm_cache.hit_ratio": 1.0 - misses / built_cache,
        }

    def _ratios(self) -> dict:
        text = dict(zip(*_dataset(f"{self.workdir}/clean_text").to_table(
            columns=["url", "text"]).to_pydict().values()))
        triples = _dataset(f"{self.workdir}/triples").to_table(
            columns=["url", "head_mention", "tail_mention"]).to_pylist()
        valid = sum(
            mention_in_text(t["head_mention"], text.get(t["url"]))
            and mention_in_text(t["tail_mention"], text.get(t["url"]))
            for t in triples
        )
        ids = _dataset(f"{self.workdir}/resolved").to_table(columns=["head_id", "tail_id"])
        sites = 2 * ids.num_rows
        linked = sites - ids.column("head_id").null_count - ids.column("tail_id").null_count
        return {"parsing.valid_ratio": valid / len(triples), "linking.resolved_ratio": linked / sites}


def ledger_stage_seconds(ledger: str) -> dict:
    """Per-stage seconds of each run_checkpointed call, from the ledger's
    ``ts`` column: a stage's time is the gap since the previous stage
    marked done (the first stage of a call has no start mark)."""
    table = pads.dataset(ledger, format="parquet").to_table(columns=["stage", "run_id", "ts"])
    runs: dict[str, dict] = {}
    for rec in table.to_pylist():
        run = runs.setdefault(rec["run_id"], {})
        run[rec["stage"]] = max(run.get(rec["stage"], rec["ts"]), rec["ts"])
    out = {}
    for i, run in enumerate(sorted(runs.values(), key=lambda r: min(r.values()))):
        marks = sorted(run.items(), key=lambda kv: kv[1])
        out[f"call{i}"] = {
            stage: round((ts - prev).total_seconds(), 3)
            for (_, prev), (stage, ts) in zip(marks, marks[1:])
        }
    return out


class CorpusPrep:
    """scripts/corpus_prep.run_chain over salted replicas of the corpus."""

    # traced-mode extras of the per-layer report
    EXTRAS = ("trace.overhead_s", "corpus.survivor_ratio.quality",
              "corpus.survivor_ratio.exact_dedup", "corpus.survivor_ratio.near_dedup",
              "corpus.survivor_ratio.decontamination")

    def __init__(self, spark, inputs: str, facts: dict, run_dir: str, root: str):
        sys.path.insert(0, os.path.join(root, "scripts"))
        from corpus_prep import run_chain

        self.run_chain = run_chain
        self.spark = spark
        self.facts = facts
        self.run_dir = run_dir
        self.docs = spark.read.parquet(f"{inputs}/documents")
        self.n = 0

    def _chain(self, checkpoint=None) -> dict:
        self.n += 1
        return self.run_chain(self.spark, self.docs, f"{self.run_dir}/chain{self.n}",
                              checkpoint=checkpoint)

    def _check(self, checks: Checks, counts: dict, reference: dict | None) -> None:
        f = self.facts
        chain = [counts[k] for k in ("input", "after_quality", "after_exact_dedup",
                                     "after_near_dedup", "after_decontamination", "final_docs")]
        checks.check("input_docs", counts["input"] == f["docs"], counts["input"])
        checks.check("survivors_non_increasing", chain == sorted(chain, reverse=True), chain)
        # the generated texts all pass the quality gate; byte copies and
        # " dup" near-copies are known to the generator
        checks.check("quality_keeps_all", counts["after_quality"] == f["docs"], counts["after_quality"])
        checks.check("exact_dedup_equals_distinct_texts",
                     counts["after_exact_dedup"] == f["distinct_texts"],
                     (counts["after_exact_dedup"], f["distinct_texts"]))
        # MinHash banding is approximate: allow it to miss or over-merge
        # 1% of the planted near-copy clusters.
        checks.check("near_dedup_close_to_planted",
                     abs(counts["after_near_dedup"] - f["near_dup_clusters"])
                     <= 0.01 * f["near_dup_clusters"],
                     (counts["after_near_dedup"], f["near_dup_clusters"]))
        checks.check("profile_sums_to_final",
                     sum(p["n_docs"] for p in counts["profile"].values()) == counts["final_docs"])
        if reference is not None:
            checks.check("counts_match_reference", counts == reference, (counts, reference))

    def _traced_chain(self, tracer: Tracer) -> dict:
        stages = iter(CHAIN_STAGES)

        def checkpoint(df):
            name, layer, _ = next(stages)
            with tracer.span(layer, name):
                return df.localCheckpoint(eager=True)

        orig_write = tables_mod.write_table

        def write_table(df, location, **kwargs):
            with tracer.span("corpus", os.path.basename(location)):
                return orig_write(df, location, **kwargs)

        with patched(tables_mod, write_table=write_table), tracer.span("root", "chain"):
            return self._chain(checkpoint)

    def run(self, tracer: Tracer | None, expected: dict | None) -> dict:
        checks = Checks()
        if tracer is None:
            wall_s, counts = timed(self._chain)
        else:
            wall_s, counts = timed(self._traced_chain, tracer)
        self._check(checks, counts, expected)
        out = {
            "checks": checks,
            "wall_s": wall_s,
            "docs_per_s": self.facts["docs"] / wall_s,
            "pinned": counts,
            "info": {k: v for k, v in counts.items() if k != "profile"},
        }
        if tracer is not None:
            for _, layer, key in CHAIN_STAGES:
                tracer.add_rows(layer, counts[key])
            tracer.add_rows("corpus", counts["final_docs"] + len(counts["profile"]))
            # equal warm passes, traced then untraced, for the overhead
            traced_s, again_traced = timed(self._traced_chain, Tracer(self.spark))
            untraced_s, again = timed(self._chain)
            for c in (again_traced, again):
                self._check(checks, c, counts)
            out["extras"] = {"trace.overhead_s": traced_s - untraced_s}
            prev = "input"
            for name, _, key in CHAIN_STAGES:
                if key != prev:
                    out["extras"][f"corpus.survivor_ratio.{name}"] = counts[key] / counts[prev]
                    prev = key
        return out
