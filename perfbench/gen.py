"""Seeded input generator for the benchmark.

Everything the engine sees in a run comes from here: a rotated-replica
document corpus (one parquet file with one row group, plus the same
documents as one TREC XML file), the stream micro-batch files, the
Zipf-weighted term-query stream and the wildcard patterns. The same seed
gives the same bytes.

Corpus shape. A base corpus of ``BASE_DOCS`` documents is drawn from a
fixed pseudo-word vocabulary with Zipf word frequencies, sentence case
and full stops, about 300 characters per document like the engine's
``documents`` fixture. ``DUP_SHARE`` of the base documents are near
copies of an earlier one (a few words replaced), so the near-dup stream
finds pairs. The corpus is ``REPLICAS`` copies of the base, each with
its letters rotated by the replica number (the ``scale_rehearsal.py``
bijection): every length and frequency statistic is kept while the
replicas' vocabularies stay disjoint. The whole corpus is shuffled by the
seed.
"""

from __future__ import annotations

import bisect
import json
import os
import random
import string

BASE_DOCS = 5000
REPLICAS = 4
ID_STRIDE = 1_000_000  # doc_id = replica * ID_STRIDE + base index
VOCAB = 4000
# One vocabulary for every seed: word lengths and which words are heavy
# stay put, so seeds differ in the documents and queries drawn from it.
VOCAB_SEED = 0
ZIPF_S = 1.0
DUP_SHARE = 0.05
WORDS_PER_DOC = (12, 90)

STREAM_REPLICA = 1
STREAM_BATCHES = 8
STREAM_BATCH_DOCS = 400
WARM_STREAM_FILES = 4  # files like the stream's, of other docs, to warm up on

# 75% searches (half of them 1-term, half 2-term), 25% wildcards
OP_BLOCK = ("search1",) * 3 + ("search2",) * 3 + ("prefix", "suffix")
WILDCARD_AFFIX = 3

# the traced run's probe: a small corpus, stream and query list
PROBE_DOCS = 400
PROBE_STREAM_FILES = 2
PROBE_STREAM_DOCS = 200
PROBE_OPS = 8
# the closed loop's query stream: room for 30 queries/s over a 12 s
# window, plus the 40 warm-up queries taken from its end
LOOP_OPS = 400

LANGS = ("en", "en", "en", "de", "fr", "es")

DOC_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"

_LOWER = string.ascii_lowercase
_UPPER = string.ascii_uppercase
_CONS = "bcdfghjklmnprstvwz"
_VOWELS = "aeiou"


def rotation(r: int) -> dict[int, int]:
    """str.translate table for the replica-``r`` letter rotation."""
    return str.maketrans(
        _LOWER + _UPPER, _LOWER[r:] + _LOWER[:r] + _UPPER[r:] + _UPPER[:r]
    )


def _vocabulary(rng: random.Random, n: int, stopwords: frozenset) -> list[str]:
    """``n`` pseudo-words whose every rotation (the replicas' and the
    probe corpus') is a distinct non-stopword, so the vocabularies are
    disjoint."""
    tables = [rotation(r) for r in range(REPLICAS + 1)]
    taken: set[str] = set()
    words: list[str] = []
    while len(words) < n:
        syl = rng.randint(1, 3)
        w = "".join(rng.choice(_CONS) + rng.choice(_VOWELS) for _ in range(syl))
        if rng.random() < 0.5:
            w += rng.choice(_CONS)
        forms = [w.translate(t) for t in tables]
        if len(w) < 3 or any(f in taken or f in stopwords for f in forms):
            continue
        taken.update(forms)
        words.append(w)
    return words


def _zipf_weights(n: int) -> list[float]:
    acc, out = 0.0, []
    for i in range(n):
        acc += 1.0 / (i + 1) ** ZIPF_S
        out.append(acc)
    return out


def _base_texts(rng: random.Random, vocab: list[str]) -> tuple[list[str], int]:
    """Base document texts and the number of near-dup copies among them."""
    cum = _zipf_weights(len(vocab))
    docs: list[list[str]] = []
    dups = 0
    for i in range(BASE_DOCS):
        if i >= 10 and rng.random() < DUP_SHARE:
            words = list(docs[rng.randrange(i)])
            for _ in range(max(1, len(words) // 25)):
                words[rng.randrange(len(words))] = rng.choices(vocab, cum_weights=cum)[0]
            dups += 1
        else:
            n = rng.randint(*WORDS_PER_DOC)
            words = rng.choices(vocab, cum_weights=cum, k=n)
        docs.append(words)
    texts = []
    for words in docs:
        out, j = [], 0
        while j < len(words):
            sentence = words[j : j + 6 + (j * 7 + len(words)) % 9]
            j += len(sentence)
            out.append(" ".join([sentence[0].capitalize(), *sentence[1:]]) + ".")
        texts.append(" ".join(out))
    return texts, dups


def _write_parquet(rows: list[tuple], path: str) -> None:
    """One file, one row group, columns as the engine's documents fixture."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    cols = list(zip(*rows)) if rows else [[]] * 5
    table = pa.table(
        {
            "doc_id": pa.array(cols[0], pa.int64()),
            "text": pa.array(cols[1], pa.string()),
            "lang": pa.array(cols[2], pa.string()),
            "source": pa.array(cols[3], pa.string()),
            "n_chars": pa.array(cols[4], pa.int64()),
        }
    )
    pq.write_table(table, path, row_group_size=max(1, len(rows)))


def _write_trec(rows: list[tuple], path: str) -> None:
    with open(path, "w", encoding="utf-8") as f:
        for doc_id, text, *_ in rows:
            f.write(f"<DOC>\n<DOCNO> {doc_id} </DOCNO>\n<TEXT>\n{text}\n</TEXT>\n</DOC>\n")


def _corpus_dir(rows: list[tuple], out: str) -> dict:
    os.makedirs(out, exist_ok=True)
    _write_parquet(rows, os.path.join(out, "documents.parquet"))
    _write_trec(rows, os.path.join(out, "corpus.trec"))
    return {
        "docs": len(rows),
        "text_bytes": sum(len(r[1].encode()) for r in rows),
        "trec_bytes": os.path.getsize(os.path.join(out, "corpus.trec")),
    }


def _stream_files(rows: list[tuple], batches: int, out: str) -> None:
    """``batches`` equal parquet files with increasing modification times,
    so a file source with ``maxFilesPerTrigger=1`` takes them in order."""
    os.makedirs(out, exist_ok=True)
    size = len(rows) // batches
    for b in range(batches):
        path = os.path.join(out, f"batch-{b:03d}.parquet")
        _write_parquet(rows[b * size : (b + 1) * size], path)
        os.utime(path, (1_700_000_000 + b, 1_700_000_000 + b))


def _rows(texts: list[str], replica: int, rng: random.Random) -> list[tuple]:
    table = rotation(replica)
    rows = []
    for i, text in enumerate(texts):
        t = text.translate(table)
        rows.append(
            (
                replica * ID_STRIDE + i,
                t,
                LANGS[i % len(LANGS)],
                f"src{rng.randrange(20)}",
                len(t),
            )
        )
    return rows


def _queries(
    rng: random.Random, vocab: list[str], n_ops: int, replicas: range
) -> list[list]:
    """``n_ops`` closed-loop operations in shuffled blocks of ``OP_BLOCK``:
    ``["search", [t1(, t2)]]`` with distinct terms Zipf-weighted by
    frequency rank over the given replicas' words, or
    ``["wildcard", "pre*" | "*suf"]`` with the affix cut from a term drawn
    the same way. Every block holds the same mix of operations, and its
    terms are a stratified draw from the Zipf distribution (one uniform
    draw per equal-mass stratum), so how heavy the queries are does not
    swing with the seed or with how many operations a run gets through."""
    ranked = [
        (w.translate(rotation(r)), 1.0 / (i + 1) ** ZIPF_S)
        for i, w in enumerate(vocab)
        for r in replicas
    ]
    terms = [t for t, _ in ranked]
    acc, cum = 0.0, []
    for _, w in ranked:
        acc += w
        cum.append(acc)
    draws = sum(2 if kind == "search2" else 1 for kind in OP_BLOCK)

    def term_at(u: float, ok) -> str:
        i = min(bisect.bisect_left(cum, u * acc), len(terms) - 1)
        while not ok(terms[i]):
            i = (i + 1) % len(terms)
        return terms[i]

    def affix(t: str) -> bool:
        return len(t) > WILDCARD_AFFIX

    ops: list[list] = []
    while len(ops) < n_ops:
        block = list(OP_BLOCK)
        rng.shuffle(block)
        us = [(k + rng.random()) / draws for k in range(draws)]
        rng.shuffle(us)
        u = iter(us)
        for kind in block:
            if kind == "search1":
                ops.append(["search", [term_at(next(u), bool)]])
            elif kind == "search2":
                first = term_at(next(u), bool)
                ops.append(["search", sorted([first, term_at(next(u), lambda t: t != first)])])
            elif kind == "prefix":
                ops.append(["wildcard", term_at(next(u), affix)[:WILDCARD_AFFIX] + "*"])
            else:
                ops.append(["wildcard", "*" + term_at(next(u), affix)[-WILDCARD_AFFIX:]])
    return ops[:n_ops]


def _workloads() -> dict[str, str]:
    """Why each workload exists, as ``BENCHMARK.json`` gives it."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return {w["name"]: w["why"] for w in json.load(f)["workloads"]}


def generate(seed: int, out: str) -> dict:
    """Write every input of every workload for ``seed`` under ``out`` and
    return the manifest (also written as ``out/manifest.json``):

    - ``corpus/``: the shuffled rotated-replica corpus, as
      ``documents.parquet`` and ``corpus.trec``;
    - ``ingest/documents.parquet``: the docs of the stream, for oracles;
    - ``stream/batch-NNN.parquet``: the stream micro-batch files, with
      increasing modification times so the file source takes them in
      order; ``stream_warm/`` holds ``WARM_STREAM_FILES`` more like them,
      of other docs of the same replica;
    - ``probe/``: a small corpus of a fifth rotation, with its own
      ``stream/``, for the traced run's layer probe;
    - ``ops.json``: the closed-loop query stream (``loop``) and a few
      operations over the probe corpus' words (``probe``).
    """
    from simple_mapreduce_search_engine_information_retrieval__spark.functions.stopwords import (
        STOPWORDS,
    )

    vocab = _vocabulary(random.Random(VOCAB_SEED), VOCAB, frozenset(STOPWORDS))
    rng = random.Random(seed)
    texts, dups = _base_texts(rng, vocab)
    rows = [r for rep in range(REPLICAS) for r in _rows(texts, rep, rng)]
    rng.shuffle(rows)
    manifest: dict = {"seed": seed, "workloads": _workloads(), "near_dup_copies": dups}
    manifest["corpus"] = _corpus_dir(rows, os.path.join(out, "corpus"))

    replica = [r for r in rows if r[0] // ID_STRIDE == STREAM_REPLICA]
    stream_rows = replica[: STREAM_BATCHES * STREAM_BATCH_DOCS]
    warm_rows = replica[len(stream_rows) :][: WARM_STREAM_FILES * STREAM_BATCH_DOCS]
    _stream_files(warm_rows, WARM_STREAM_FILES, os.path.join(out, "stream_warm"))
    ingest = os.path.join(out, "ingest")
    os.makedirs(ingest, exist_ok=True)
    _write_parquet(stream_rows, os.path.join(ingest, "documents.parquet"))
    _stream_files(stream_rows, STREAM_BATCHES, os.path.join(out, "stream"))
    manifest["stream"] = {
        "batches": STREAM_BATCHES,
        "docs": len(stream_rows),
        "text_bytes": sum(len(r[1].encode()) for r in stream_rows),
    }

    # the probe's corpus and stream: a fifth rotation, outside the
    # measured id space and vocabulary
    probe_rows = _rows(texts[:PROBE_DOCS], REPLICAS, rng)
    probe = os.path.join(out, "probe")
    manifest["probe"] = _corpus_dir(probe_rows, probe)
    _stream_files(probe_rows[:PROBE_STREAM_DOCS], PROBE_STREAM_FILES, os.path.join(probe, "stream"))

    ops = _queries(rng, vocab, LOOP_OPS, range(REPLICAS))
    probe_ops = _queries(rng, vocab, PROBE_OPS, range(REPLICAS, REPLICAS + 1))
    with open(os.path.join(out, "ops.json"), "w") as f:
        json.dump({"loop": ops, "probe": probe_ops}, f)
    manifest["ops"] = {
        "count": len(ops),
        "search": sum(op[0] == "search" for op in ops),
        "distinct": len({json.dumps(op) for op in ops}),
    }
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest
