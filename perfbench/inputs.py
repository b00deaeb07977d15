"""Seeded input preparation, kept outside every timed region.

Everything here is pure Python plus pyarrow: no Spark job runs while
inputs are built, so a run that finds its inputs cached starts its JVM in
exactly the state of a run that had to build them (a Spark job here would
warm the JVM in some runs and not others and make the first timed pass
bimodal).

Inputs are cached per (workload, seed) under ``<work>/inputs``.  The
seed chooses the documents, the row permutation across the multi-file
parquet layout and, for kg_build, the pages edited for its traced resumes.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

from relation_extraction_using_llms_spark.sources import synthetic

# Part of the cache key: bump when the generators change.
INPUT_VERSION = "v2"

# The sf-table documents use a small technical vocabulary with near-uniform
# word frequencies; 5% of documents are near-copies of an earlier one with
# " dup" appended and a few are byte copies (the shape dedup must find).
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "fr", "es", "zh", "de"]
LANG_WEIGHTS = [0.41, 0.15, 0.15, 0.15, 0.14]
NEAR_DUP_RATE = 0.05
EXACT_DUP_RATE = 0.002

# Single-row-group files never split (one scan task per file), so the
# number of files sets scan parallelism: one file per core of local[4],
# twice over.
N_FILES = 8

PAGES_SCHEMA = pa.schema(
    [
        pa.field("url", pa.string(), nullable=False),
        pa.field("warc_ts", pa.timestamp("us", tz="UTC")),
        pa.field("html", pa.binary()),
        pa.field("text", pa.string()),
        pa.field("lang", pa.string()),
    ]
)
RESPONSES_SCHEMA = pa.schema(
    [
        pa.field("url", pa.string(), nullable=False),
        pa.field("technique", pa.string(), nullable=False),
        pa.field("model", pa.string(), nullable=False),
        pa.field("response", pa.string()),
    ]
)
DOCS_SCHEMA = pa.schema(
    [
        pa.field("doc_id", pa.int64()),
        pa.field("text", pa.string()),
        pa.field("lang", pa.string()),
        pa.field("source", pa.string()),
        pa.field("n_chars", pa.int64()),
    ]
)

# Appended to each edited page: a passage without annotations and without
# any vocabulary word, so the page's clean text, prompts and cache keys
# change while its entities, relations and model responses do not.  A
# clean run on the edited input therefore yields the same resolved table
# and eval_aggregate as a clean run on the original input.
EDIT_PASSAGE = "Page revised."


def documents(seed: int, n: int) -> list[dict]:
    """``n`` documents rows shaped like the sf-table ``documents``."""
    rng = random.Random(f"perfbench-docs-{seed}")
    texts: list[str] = []
    for _ in range(n):
        r = rng.random()
        if texts and r < EXACT_DUP_RATE:
            texts.append(rng.choice(texts))
        elif texts and r < EXACT_DUP_RATE + NEAR_DUP_RATE:
            texts.append(rng.choice(texts) + " dup")
        else:
            texts.append(" ".join(rng.choice(VOCAB) for _ in range(rng.randint(10, 100))))
    return [
        {
            "doc_id": i,
            "text": t,
            "lang": rng.choices(LANGS, LANG_WEIGHTS)[0],
            "source": f"src{i % 20}",
            "n_chars": len(t),
        }
        for i, t in enumerate(texts)
    ]


def salted_replicas(docs: list[dict], replicas: int) -> list[dict]:
    """Vocabulary-salted replicas, the rule of ``synthetic._documents``:
    replica r suffixes every word with ``r<r>`` and offsets doc_id by
    r * 100_000_000, so replicas are distinct shards, not copies."""
    out = []
    for r in range(replicas):
        tag = f"r{r}"
        for d in docs:
            text = " ".join(w if w == "" else w + tag for w in d["text"].split(" "))
            out.append(
                dict(d, doc_id=d["doc_id"] + r * 100_000_000, text=text, n_chars=len(text))
            )
    return out


def _write_layout(rows: list[dict], schema: pa.Schema, path: str, seed: int) -> None:
    """Seeded row permutation, striped over N_FILES single-row-group files."""
    rows = list(rows)
    random.Random(f"perfbench-layout-{seed}-{os.path.basename(path)}").shuffle(rows)
    os.makedirs(path)
    for i in range(N_FILES):
        part = rows[i::N_FILES]
        table = pa.Table.from_pylist(part, schema=schema)
        pq.write_table(table, os.path.join(path, f"part-{i:02d}.parquet"))


def _edit(html: bytes) -> bytes:
    doc = json.loads(html)
    passages = doc["documents"][0]["passages"]
    last = passages[-1]
    passages.append(
        {
            "offset": last["offset"] + len(last["text"]) + 1,
            "text": EDIT_PASSAGE,
            "annotations": [],
        }
    )
    return json.dumps(doc).encode("utf-8")


def _build_kg(seed: int, out: str, cfg: dict) -> dict:
    pages, responses = [], []
    for d in documents(seed, cfg["pages"]):
        doc = synthetic.gen_doc(d["doc_id"], d["text"], d["lang"])
        pages.append(
            {
                "url": doc["url"],
                "warc_ts": doc["warc_ts"],
                "html": doc["html"],
                "text": None,
                "lang": doc["lang"],
            }
        )
        for tech in cfg["techniques"]:
            for model in cfg["models"]:
                responses.append(
                    {
                        "url": doc["url"],
                        "technique": tech,
                        "model": model,
                        "response": synthetic.gen_response(doc, tech, model),
                    }
                )
    # Two edit sets of the same size: pages_edit1 changes the first set,
    # pages_edit2 the second set on top of it, so the resumes build ->
    # edit1 -> edit2 each change the same number of pages.
    n = cfg["edited_pages"]
    picked = random.Random(f"perfbench-edit-{seed}").sample(range(len(pages)), 2 * n)
    _write_layout(pages, PAGES_SCHEMA, os.path.join(out, "pages"), seed)
    for name, idx in (("pages_edit1", set(picked[:n])), ("pages_edit2", set(picked))):
        edited = [dict(p, html=_edit(p["html"])) if i in idx else p for i, p in enumerate(pages)]
        _write_layout(edited, PAGES_SCHEMA, os.path.join(out, name), seed)
    _write_layout(responses, RESPONSES_SCHEMA, os.path.join(out, "responses"), seed)
    return {"pages": len(pages)}


def _build_corpus_prep(seed: int, out: str, cfg: dict) -> dict:
    base = documents(seed, cfg["base_docs"])
    docs = salted_replicas(base, cfg["replicas"])
    _write_layout(docs, DOCS_SCHEMA, os.path.join(out, "documents"), seed)
    # Independent expectations for the dedup counts: the generator knows
    # which texts are byte copies and which are " dup" near-copies, and
    # salting keeps replicas disjoint, so each replica contributes the
    # base corpus's counts.
    texts = {d["text"] for d in base}
    clusters = texts
    while True:  # a near-copy of a near-copy belongs to the same cluster
        folded = {t[: -len(" dup")] if t.endswith(" dup") else t for t in clusters}
        if folded == clusters:
            break
        clusters = folded
    return {
        "docs": len(docs),
        "distinct_texts": len(texts) * cfg["replicas"],
        "near_dup_clusters": len(clusters) * cfg["replicas"],
    }


BUILDERS = {"kg_build": _build_kg, "corpus_prep": _build_corpus_prep}


def prepare(work: str, workload: str, seed: int, cfg: dict) -> tuple[str, dict]:
    """Build (or reuse) the inputs of ``workload`` at ``seed``; returns the
    input directory and the generator's facts about it."""
    key = hashlib.sha256(json.dumps([INPUT_VERSION, cfg], sort_keys=True).encode()).hexdigest()[:10]
    out = os.path.join(work, "inputs", f"{workload}-s{seed}-{key}")
    marker = os.path.join(out, "_facts.json")
    if not os.path.exists(marker):
        shutil.rmtree(out, ignore_errors=True)
        facts = BUILDERS[workload](seed, out, cfg)
        with open(marker + ".tmp", "w") as f:
            json.dump(facts, f)
        os.replace(marker + ".tmp", marker)
    with open(marker) as f:
        return out, json.load(f)
