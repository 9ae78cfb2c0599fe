"""`er_lsh_store`: the store-backed ER pipeline with two-channel blocking,
then a resume after `candidates`, checked against the pure-Python oracle.

Corpus: `fixtures.generate` (hot alias in ~20% of docs, person coref) with
a seeded share of gold mention surfaces given a one-character edit, so
those mentions miss the exact dictionary key and only the LSH channel can
recover them.
"""

from __future__ import annotations

import os
import random
import shutil
import time
from collections import defaultdict
from contextlib import nullcontext

import pyarrow as pa
import pyarrow.parquet as pq

from probe import CheckFailed

N_DOCS = 200
N_ENTITIES = 150
EDIT_SHARE = 0.15
JACCARD = 0.5
RESUMED = ["coref", "resolved", "clusters"]  # the stages after `candidates`
TABLES = ["documents", "pem", "entity_meta", "entity_embeddings", "human_qcodes"]
CACHE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "cache")
SEEDED = True  # a fresh checkout holds no answers for a new seed


def locate(seed: int) -> tuple[str, str]:
    """(input dir, answer file) of the seed's corpus."""
    d = os.path.join(CACHE, f"er-s{seed}")
    return os.path.join(d, "input"), os.path.join(d, "answers.json.gz")


# ------------------------------------------------------------------ inputs

def shingles(s: str, k: int = 3) -> set[str]:
    """char-k-shingles, the definition of hashing.char_shingles_col."""
    return {s[i:i + k] for i in range(len(s) - k + 1)} if len(s) >= k else {s}


def jaccard(a: set[str], b: set[str]) -> float:
    return len(a & b) / len(a | b)


def make_inputs(out: str, seed: int) -> None:
    """fixtures corpus + one-character edits on a seeded share of gold
    mentions (each edited key must miss the dictionary)."""
    from refined_spark import fixtures
    from refined_spark.functions.normalize import normalize_surface_py

    fixtures.generate(out, n_docs=N_DOCS, n_entities=N_ENTITIES, seed=seed)
    pem = set(pq.read_table(f"{out}/pem.parquet", columns=["surface_form"])
              .column(0).to_pylist())
    gold = pq.read_table(f"{out}/gold_mentions.parquet").to_pylist()
    rng = random.Random(seed * 7919 + 1)
    letters = "abcdefghijklmnopqrstuvwxyz"
    edits: dict[tuple[str, int], str] = {}
    for g in gold:
        if rng.random() >= EDIT_SHARE:
            continue
        s = g["surface"]
        pos = [i for i, c in enumerate(s) if c.isalpha()]
        for _ in range(10):
            i = rng.choice(pos)
            c = rng.choice(letters.replace(s[i].lower(), ""))
            new = s[:i] + (c.upper() if s[i].isupper() else c) + s[i + 1:]
            key = normalize_surface_py(new)
            if key and key not in pem:
                edits[(g["doc_id"], g["offset"])] = new
                g["surface"], g["block_key"], g["edited"] = new, key, True
                break
    for g in gold:
        g.setdefault("edited", False)
    docs = pq.read_table(f"{out}/documents.parquet")
    rows = docs.to_pylist()
    for r in rows:
        for sp in r["spans"]:
            new = edits.get((r["doc_id"], sp["offset"]))
            if new is not None:
                sp["text"] = new
    pq.write_table(pa.Table.from_pylist(rows, schema=docs.schema),
                   f"{out}/documents.parquet", row_group_size=2048)
    pq.write_table(pa.Table.from_pylist(gold), f"{out}/gold_mentions.parquet")


def make_answers(inp: str) -> dict:
    """Reference answers, computed apart from the engine: oracle winners for
    every gold mention in a doc with no edited mention, and the edited
    mentions an exact char-3-shingle Jaccard scan says LSH should recover."""
    from refined_spark.oracle import resolve_mentions

    gold = pq.read_table(f"{inp}/gold_mentions.parquet").to_pylist()
    pem = {r["surface_form"]: [(c["qcode"], c["prior"]) for c in r["candidates"]]
           for r in pq.read_table(f"{inp}/pem.parquet").to_pylist()}
    meta = {r["qcode"]: r for r in pq.read_table(f"{inp}/entity_meta.parquet").to_pylist()}
    emb = {r["qcode"]: r["emb"]
           for r in pq.read_table(f"{inp}/entity_embeddings.parquet").to_pylist()}
    human = set(pq.read_table(f"{inp}/human_qcodes.parquet").column(0).to_pylist())
    edited_docs = {g["doc_id"] for g in gold if g["edited"]}
    doc_spans = {
        r["doc_id"]: [(s["offset"], s["text"])
                      for s in sorted(r["spans"], key=lambda x: x["offset"])
                      if s["kind"] == "text" and s["text"]]
        for r in pq.read_table(f"{inp}/documents.parquet").to_pylist()
        if r["doc_id"] not in edited_docs
    }
    clean = [{k: g[k] for k in ("doc_id", "mention_id", "surface", "offset")}
             for g in gold if g["doc_id"] not in edited_docs]
    winners = resolve_mentions(clean, pem, meta, emb, human, doc_spans)
    sh = {s: shingles(s) for s in pem}
    recoverable = sorted(
        g["mention_id"] for g in gold if g["edited"]
        and any(jaccard(shingles(g["block_key"]), v) >= JACCARD for v in sh.values()))
    return {"winners": winners, "recoverable": recoverable}


# ------------------------------------------------------------- the workload

def store_class(ledger=None):
    """StageStore whose commits are layers of `ledger` when one is given."""
    from refined_spark.plans.snapshots import StageStore

    class LayeredStore(StageStore):
        def commit(self, df, stage, repartition_by=None, num_partitions=None):
            if ledger is None:
                return super().commit(df, stage, repartition_by, num_partitions)
            with ledger.layer(f"er.{stage}"):
                out = super().commit(df, stage, repartition_by, num_partitions)
            ledger.metrics[f"er.{stage}"]["rows"] = self.metrics(stage)["rows"]
            return out

    return LayeredStore


class Workload:
    name = "er_lsh_store"
    ops = 2  # the full run and the resume

    def __init__(self, spark, inp: str, work: str, answers: dict):
        self.spark, self.inp, self.work, self.answers = spark, inp, work, answers
        self.n = 0
        self.dictionary = {
            r["surface_form"]: {c["qcode"] for c in r["candidates"]}
            for r in pq.read_table(f"{inp}/pem.parquet").to_pylist()}

    def _run(self, store):
        from refined_spark.plans import pipeline

        load = lambda k: self.spark.read.parquet(f"{self.inp}/{k}.parquet")  # noqa: E731
        return pipeline.run(self.spark, *[load(t) for t in TABLES],
                            store=store, lsh_blocking=True)

    def iterate(self, ledger=None) -> dict:
        """One closed-loop iteration: the full store-backed run, then reset
        the stages after `candidates` and resume. Each phase's output goes
        through the noop sink; the frame that phase returned is then
        collected, outside the timed phases, and checked."""
        from refined_spark.plans import pipeline

        self.n += 1
        root = os.path.join(self.work, f"store-{self.n}")
        try:
            if ledger:
                ledger.mark()
            t0 = time.perf_counter()
            out = self._run(store_class(ledger)(root))
            with ledger.layer("er.final_join") if ledger else nullcontext():
                out.write.format("noop").mode("overwrite").save()
            res = {"wall_s": time.perf_counter() - t0, "written_mb": _du_mb(root)}
            full = rows(out)
            cands = pq.read_table(f"{root}/candidates/data.parquet").to_pylist()
            store = store_class()(root)
            for s in RESUMED:
                store.reset(s)
            if ledger:
                ledger.mark()
            t1 = time.perf_counter()
            with ledger.layer("er.resume") if ledger else nullcontext():
                out = self._run(store)
                out.write.format("noop").mode("overwrite").save()
            res["wall_s"] += time.perf_counter() - t1
            check_output(full, rows(out), cands, self.answers, self.dictionary)
            res.update(output_rows=len(full), candidates=cands)
            return res
        finally:
            pipeline.release_cache()
            shutil.rmtree(root, ignore_errors=True)

    def warm_up(self) -> None:
        """The JVM's first pass compiles and loads; its output is checked
        too. It includes the resume: a warm-up without it left the first
        timed resume cold, and iter_s about 4 s higher and noisier."""
        self.iterate()


def _du_mb(root: str) -> float:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(root) for f in fs) / 2**20


def rows(df) -> list[tuple]:
    """The pipeline's final rows, sorted."""
    cols = ["mention_id", "doc_id", "block_key", "offset", "qcode", "score", "cluster_id"]
    return sorted(tuple(r[c] for c in cols) for r in df.select(*cols).collect())


# ------------------------------------------------------------------ checks

def check_output(full, resumed, cands, answers, dictionary) -> None:
    if resumed != full:
        bad = next(i for i, (a, b) in enumerate(zip(full, resumed + [None] * len(full)))
                   if a != b)
        raise CheckFailed(f"resumed output differs from the full run at row {bad}: "
                          f"{full[bad]} vs {resumed[bad] if bad < len(resumed) else None}")
    check_winners(full, answers["winners"])
    check_clusters(full)
    check_lsh(cands, dictionary)


def check_winners(rows, winners: dict) -> None:
    got = {r[0]: r[4] for r in rows}
    bad = [(m, q, got.get(m, "<missing>")) for m, q in winners.items()
           if got.get(m, "<missing>") != q]
    if bad:
        raise CheckFailed(f"{len(bad)} winners differ from the oracle, e.g. {bad[:3]}")


def check_clusters(rows) -> None:
    """Two non-NIL mentions share a cluster_id exactly when they share a winner."""
    by_q, by_c = defaultdict(set), defaultdict(set)
    for r in rows:
        if r[4] is not None:
            by_q[r[4]].add(r[6])
            by_c[r[6]].add(r[4])
    bad = [q for q, c in by_q.items() if len(c) != 1] + \
          [c for c, q in by_c.items() if len(q) != 1]
    if bad:
        raise CheckFailed(f"clusters do not match winners: {bad[:3]}")


def lsh_rows(cands, dictionary) -> list[dict]:
    """Candidate rows the LSH channel produced: a qcode for a key the exact
    dictionary does not have."""
    return [r for r in cands if r["qcode"] is not None
            and r["block_key"] not in dictionary]


def check_lsh(cands, dictionary) -> None:
    """Every LSH candidate has a dictionary surface carrying its qcode at
    char-3-shingle Jaccard >= 0.5 with the mention key."""
    reach: dict[str, set[str]] = {}
    for r in lsh_rows(cands, dictionary):
        k = r["block_key"]
        if k not in reach:
            sk = shingles(k)
            reach[k] = {q for s, qs in dictionary.items()
                        if jaccard(sk, shingles(s)) >= JACCARD for q in qs}
        if r["qcode"] not in reach[k]:
            raise CheckFailed(f"LSH candidate {r['qcode']} for {k!r} has no "
                              f"dictionary surface at Jaccard >= {JACCARD}")


def recall(cands, answers, dictionary) -> float:
    ref = set(answers["recoverable"])
    got = {r["mention_id"] for r in lsh_rows(cands, dictionary)}
    return len(ref & got) / len(ref) if ref else 0.0
