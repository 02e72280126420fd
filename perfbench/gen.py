"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed: the same seed writes
byte-identical files. Generation is single-threaded Python and runs
outside every timed region; the program under test only ever sees the
files written here.

- ``kg_corpus``: the documents table for ``build_graph`` (rendered by
  the package's own per-document synthesizer, written as parquet).
- ``loader_csvs`` / ``node_update_csv`` / ``edge_update_csv``: the
  ``|``-separated node, relation and update files of the reference
  bulk-insert-then-bulk-update workflow, with the count each step must
  produce.
- ``dedup_corpus``: a text corpus with planted exact-copy groups,
  near-duplicates, a shared-boilerplate slice and fresh documents.
"""

from __future__ import annotations

import os
import random
import re

import pyarrow as pa
import pyarrow.parquet as pq

# Schemaless loader columns, one per type the typing kernel infers.
NODE_HEADER = ["id", "name", "age", "score", "active", "tags", "note", "big"]
EDGE_HEADER = ["src", "dst", "weight", "since", "kind"]
NODE_UPDATE_HEADER = ["key", "status", "level"]
EDGE_UPDATE_HEADER = ["src", "dst", "tag"]
INT64_MAX = (1 << 63) - 1

# kg corpus: share of relation sentences whose subject gets a typo
TYPO_SHARE = 0.05
RELATION_RE = re.compile(r" (knows|visited|works at|is located in|mentions) ")

# dedup corpus mix
DEDUP_WORDS = 50
EXACT_SHARE = 0.10
NEAR_SHARE = 0.20
BOILER_SHARE = 0.02
BOILER_WORDS = 30
NEAR_EDITS = 3


def _rng(seed: int, stream: str) -> random.Random:
    return random.Random(f"{seed}:{stream}")


# ---------------------------------------------------------------------------
# kg_build
# ---------------------------------------------------------------------------

def _double_a_letter(rnd: random.Random, text: str) -> str:
    """``text`` with one letter of its first word (not the first
    letter) written twice: "Ada Lovelace knows ..." -> "Adda Lovelace
    knows ...". Returned unchanged when that word has no such letter."""
    first = text.split(" ", 1)[0]
    pos = [k for k in range(1, len(first)) if first[k].isalpha()]
    if not pos:
        return text
    k = rnd.choice(pos)
    return text[:k] + text[k] + text[k:]


def kg_corpus(seed: int, n_docs: int, path: str) -> dict:
    """documents(doc_id, spans) parquet from the package's per-document
    synthesizer, plus the planted (subj, pred, obj) set: the rows of
    ``synthesize_gold_triples`` for the same seed, read off the same
    per-document payloads instead of through a Spark job.

    ``TYPO_SHARE`` of the relation sentences get one letter of their
    subject's first word doubled. Such a surface is in no alias row, so
    the alias join leaves it unresolved and only the LSH leftovers pass
    can link it. ``lsh_gold`` holds the gold triples whose every
    mention has such a subject: they reach the output only through
    LSH linking."""
    from redisgraph_bulk_loader_spark.sources.documents import (
        DOCUMENTS_SCHEMA,
        _doc_id,
        doc_payload,
    )

    rnd = _rng(seed, "kg-typos")
    ids, spans, gold = [], [], set()
    typo_gold, plain_gold = set(), set()
    n_spans = n_typos = 0
    for i in range(n_docs):
        sp, g = doc_payload(seed, i)
        gold.update(g)
        ids.append(_doc_id(i))
        rendered = []
        triples = iter(g)
        for (k, t, m, o) in sp:
            # media spans and relation sentences carry one gold triple
            # each, in span order; distractor sentences carry none
            if k == "media" or RELATION_RE.search(t):
                triple = next(triples)
                if k == "text" and rnd.random() < TYPO_SHARE:
                    typo = _double_a_letter(rnd, t)
                    if typo != t:
                        t = typo
                        n_typos += 1
                        typo_gold.add(triple)
                        triple = None
                if triple is not None:
                    plain_gold.add(triple)
            rendered.append({"kind": k, "text": t, "media_ref": m,
                             "offset": o})
        spans.append(rendered)
        n_spans += len(sp)
    schema = pa.schema([
        pa.field("doc_id", pa.string(), False),
        pa.field("spans", pa.list_(pa.field("element", pa.struct([
            pa.field(f.name, pa.string() if f.name != "offset"
                     else pa.int32(), False)
            for f in DOCUMENTS_SCHEMA["spans"].dataType.elementType.fields
        ]), False)), False),
    ])
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.table({"doc_id": ids, "spans": spans}, schema=schema),
                   os.path.join(path, "part-0.parquet"))
    return {"docs": n_docs, "spans": n_spans, "typo_spans": n_typos,
            "gold": gold, "lsh_gold": typo_gold - plain_gold}


# ---------------------------------------------------------------------------
# graph_load_update
# ---------------------------------------------------------------------------

def _node_key(i: int) -> str:
    return f"n{i:07d}"


def _write_csv(path: str, header, rows) -> int:
    with open(path, "w") as f:
        f.write("|".join(header) + "\n")
        for r in rows:
            f.write("|".join(r) + "\n")
    return os.path.getsize(path)


def _node_row(rnd: random.Random, i: int) -> list:
    roll = rnd.random()
    if roll < 0.5:
        tags = "[" + ",".join(str(rnd.randrange(100))
                              for _ in range(rnd.randrange(1, 4))) + "]"
    else:
        tags = "[" + ",".join(f"'t{rnd.randrange(50)}'"
                              for _ in range(rnd.randrange(1, 4))) + "]"
    return [
        _node_key(i),
        f"name {rnd.randrange(10 ** 6)}",                  # string
        str(rnd.randrange(18, 90)),                         # long
        f"{rnd.uniform(-1000, 1000):.4f}",                  # double
        "true" if rnd.random() < 0.5 else "false",          # bool
        tags,                                               # array
        "" if rnd.random() < 0.2 else f"note {rnd.randrange(999)}",  # NULL
        str(INT64_MAX + 1 + rnd.randrange(10 ** 6)),        # int64 overflow
    ]


def loader_csvs(seed: int, n_nodes: int, n_edges: int, out_dir: str) -> dict:
    """One node file and one relation file; every relation endpoint is
    an existing node, so the load must produce exactly these counts."""
    rnd = _rng(seed, "loader")
    os.makedirs(out_dir, exist_ok=True)
    nodes = os.path.join(out_dir, "Person.csv")
    edges = os.path.join(out_dir, "KNOWS.csv")
    nbytes = _write_csv(nodes, NODE_HEADER,
                        (_node_row(rnd, i) for i in range(n_nodes)))
    nbytes += _write_csv(edges, EDGE_HEADER, (
        [_node_key(rnd.randrange(n_nodes)), _node_key(rnd.randrange(n_nodes)),
         f"{rnd.random():.5f}", str(rnd.randrange(1990, 2030)),
         "" if rnd.random() < 0.1 else rnd.choice(["friend", "work", "kin"])]
        for _ in range(n_edges)
    ))
    return {"nodes_path": nodes, "edges_path": edges, "nodes": n_nodes,
            "edges": n_edges, "input_bytes": nbytes}


def _split_keys(rnd: random.Random, n_nodes: int, rows: int,
                existing_share: float, new_prefix: str):
    """``rows`` distinct keys: ``existing_share`` of them drawn from the
    loaded nodes, the rest never seen before."""
    n_old = int(round(rows * existing_share))
    old = [_node_key(i) for i in rnd.sample(range(n_nodes), n_old)]
    new = [f"{new_prefix}{j:05d}" for j in range(rows - n_old)]
    keys = old + new
    rnd.shuffle(keys)
    return keys, len(new)


def node_update_csv(seed: int, op: int, n_nodes: int, rows: int,
                    existing_share: float, path: str) -> dict:
    """Node-MERGE update file for op ``op``: SET on existing keys,
    CREATE for new ones. Predicts the number of nodes it adds."""
    rnd = _rng(seed, f"node-update-{op}")
    keys, n_new = _split_keys(rnd, n_nodes, rows, existing_share,
                              f"u{op:04d}_")
    nbytes = _write_csv(path, NODE_UPDATE_HEADER, (
        [k, rnd.choice(["active", "idle", "gone"]), str(rnd.randrange(10))]
        for k in keys
    ))
    return {"path": path, "rows": rows, "new_nodes": n_new, "new_edges": 0,
            "input_bytes": nbytes}


def edge_update_csv(seed: int, op: int, n_nodes: int, rows: int,
                    existing_share: float, path: str) -> dict:
    """Edge-CREATE update file for op ``op``: every source exists (so
    every row creates an edge); destinations split existing/new, and
    new destinations are MERGEd as nodes."""
    rnd = _rng(seed, f"edge-update-{op}")
    dsts, n_new = _split_keys(rnd, n_nodes, rows, existing_share,
                              f"d{op:04d}_")
    nbytes = _write_csv(path, EDGE_UPDATE_HEADER, (
        [_node_key(rnd.randrange(n_nodes)), d, f"t{rnd.randrange(20)}"]
        for d in dsts
    ))
    return {"path": path, "rows": rows, "new_nodes": n_new, "new_edges": rows,
            "input_bytes": nbytes}


# ---------------------------------------------------------------------------
# corpus_dedup
# ---------------------------------------------------------------------------

VOCAB = [f"w{i:04d}" for i in range(5000)]
BOILER_VOCAB = [f"b{i:03d}" for i in range(200)]


def word_jaccard(a: list, b: list, n: int = 3) -> float:
    """Exact Jaccard of the distinct word n-gram sets of two texts (the
    shingling ``dedup_assignments`` verifies candidates with)."""
    sa = {tuple(a[k:k + n]) for k in range(len(a) - n + 1)}
    sb = {tuple(b[k:k + n]) for k in range(len(b) - n + 1)}
    return len(sa & sb) / len(sa | sb)


def dedup_corpus(seed: int, n_docs: int, path: str) -> dict:
    """docs(doc_id, text) parquet plus the planted structure.

    - exact groups: 2-5 identical copies of one fresh text
      (``EXACT_SHARE`` of the corpus across all copies);
    - near-duplicates (``NEAR_SHARE``, in pairs): a fresh base text and
      a copy with ``NEAR_EDITS`` of its ``DEDUP_WORDS`` words replaced
      (word 3-shingle Jaccard >= 0.68 to the base, recorded per pair);
    - boilerplate (``BOILER_SHARE``): one shared ``BOILER_WORDS``-word
      block plus fresh words, so these docs collide in band buckets
      but stay below the 0.5 verify threshold against each other
      (Jaccard ~0.4);
    - the rest fresh (pairwise Jaccard ~0).

    Doc ids are shuffled so planted roles are not ordered."""
    rnd = _rng(seed, "dedup")

    def fresh(n=DEDUP_WORDS):
        return [rnd.choice(VOCAB) for _ in range(n)]

    n_exact = int(n_docs * EXACT_SHARE)
    n_near = int(n_docs * NEAR_SHARE)
    n_boiler = int(n_docs * BOILER_SHARE)
    texts, roles = [], []  # role: ("exact", group) | ("near", base) | ...
    group = 0
    while len(texts) < n_exact:
        k = min(rnd.randrange(2, 6), n_exact - len(texts))
        if k < 2:
            break
        t = fresh()
        texts += [t] * k
        roles += [("exact", group)] * k
        group += 1
    near_bases = []
    for _ in range(n_near // 2):
        base = fresh()
        near = list(base)
        for pos in rnd.sample(range(DEDUP_WORDS), NEAR_EDITS):
            near[pos] = rnd.choice(VOCAB)
        bi = len(texts)
        texts.append(base)
        roles.append(("near_base", bi))
        texts.append(near)
        roles.append(("near", bi))
        near_bases.append(bi)
    block = [rnd.choice(BOILER_VOCAB) for _ in range(BOILER_WORDS)]
    for _ in range(n_boiler):
        texts.append(block + fresh(DEDUP_WORDS - BOILER_WORDS))
        roles.append(("boiler", 0))
    while len(texts) < n_docs:
        texts.append(fresh())
        roles.append(("fresh", 0))
    order = list(range(n_docs))
    rnd.shuffle(order)
    doc_id = {src: f"d{pos:07d}" for pos, src in enumerate(order)}
    ids = [doc_id[i] for i in range(n_docs)]
    os.makedirs(path, exist_ok=True)
    pq.write_table(
        pa.table({"doc_id": ids, "text": [" ".join(t) for t in texts]}),
        os.path.join(path, "part-0.parquet"),
    )
    exact_groups: dict = {}
    near_of, singles = {}, []
    for i, (role, ref) in enumerate(roles):
        if role == "exact":
            exact_groups.setdefault(ref, []).append(ids[i])
        elif role == "near":
            near_of[ids[i]] = (ids[ref], word_jaccard(texts[i], texts[ref]))
        elif role in ("fresh", "boiler"):
            singles.append(ids[i])
    return {
        "docs": n_docs,
        "exact_groups": list(exact_groups.values()),
        "near_of": near_of,
        "singles": singles,
        "mix": {"exact_copies": sum(len(g) for g in exact_groups.values()),
                "near_pairs": len(near_bases),
                "boilerplate": n_boiler,
                "fresh": sum(1 for r in roles if r[0] == "fresh")},
    }
