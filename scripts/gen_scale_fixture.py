#!/usr/bin/env python
"""Deterministic ≥10× scale-rehearsal fixtures.

Generates ``documents.parquet`` + ``embeddings.parquet`` at 1×/3×/10×
the sf0.1 row counts into ``.scale/x{1,3,10}/`` so the d04 family's
wall-time-vs-size exponents can be MEASURED instead of argued
(SCALING.md "Scale rehearsal" section holds the results).

Statistics are a DUP-RATE-REALISTIC variant of the driver fixture
(BASELINE.md:104-109 notes sf0.1 is pathologically dup-dense — ~8% of
ALL pairs ≥ 0.9 Jaccard — which makes every candidate set approach
all-pairs and hides the asymptotic behaviour the rehearsal is meant to
expose):

- vocabulary of 2,000 words under a Zipf(1.1) law (the sf fixtures use
  31 words, which is what makes them dup-dense);
- ~12% of docs belong to planted near-dup clusters of size 2-4; a
  cluster member is either an exact copy or a 1-2 token substitution
  of its base (distinct-token Jaccard ≳ 0.9, above both the
  MinHash (0.9) and exact-Jaccard (0.6) operating thresholds);
- cluster members share (lang, source) so the blocked AllPairs ops
  (d03/g01) see them — same contract as the driver fixture;
- the planted-pair count scales LINEARLY with corpus size, so a
  correctly-scaling pipeline shows near-linear wall time while any
  hidden quadratic (pair dedupe, unbounded buckets) shows up as a
  super-linear exponent.

Embeddings: 64-dim float32, 10 Gaussian label clusters, n = 0.4·docs
(the sf0.1 ratio). Everything is a pure function of SEED — rerunning
the script reproduces byte-identical fixtures, so the parquet files
stay out of git (.scale/ is ignored).
"""
from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEED = 20260814
BASE_DOCS = 5_000          # sf0.1's documents row count
BASE_EMB = 2_000           # sf0.1's embeddings row count
SCALES = (1, 3, 10)
VOCAB_SIZE = 2_000
WORDS_PER_DOC = (40, 60)   # uniform inclusive range
CLUSTER_DOC_FRACTION = 0.12
N_SOURCES = 20
EMB_DIM = 64
N_LABELS = 10


def _vocab(vocab_size: int = VOCAB_SIZE) -> list[str]:
    return [f"w{i:04d}" for i in range(vocab_size)]


def gen_documents(
    n_docs: int, rng: np.random.Generator, vocab_size: int = VOCAB_SIZE
) -> pa.Table:
    vocab = np.array(_vocab(vocab_size))
    ranks = np.arange(1, vocab_size + 1, dtype=np.float64)
    p = ranks ** -1.1
    p /= p.sum()

    n_cluster_docs = int(n_docs * CLUSTER_DOC_FRACTION)
    texts: list[str] = []
    langs: list[str] = []
    sources: list[str] = []

    def fresh_doc() -> np.ndarray:
        n_words = rng.integers(WORDS_PER_DOC[0], WORDS_PER_DOC[1] + 1)
        return rng.choice(vocab, size=n_words, p=p)

    # unique base corpus
    while len(texts) < n_docs - n_cluster_docs:
        toks = fresh_doc()
        texts.append(" ".join(toks))
        langs.append("en")
        sources.append(f"src{rng.integers(0, N_SOURCES)}")

    # planted near-dup clusters (members inherit lang/source so the
    # (lang, source)-blocked ops can see the pair)
    while len(texts) < n_docs:
        base = fresh_doc()
        src = f"src{rng.integers(0, N_SOURCES)}"
        size = int(rng.integers(2, 5))
        size = min(size, n_docs - len(texts))
        texts.append(" ".join(base))
        langs.append("en")
        sources.append(src)
        for _ in range(size - 1):
            variant = base.copy()
            if rng.random() > 0.5:  # 1-2 token substitution, else exact
                for pos in rng.choice(
                    len(variant), size=int(rng.integers(1, 3)), replace=False
                ):
                    variant[pos] = vocab[rng.integers(0, vocab_size)]
            texts.append(" ".join(variant))
            langs.append("en")
            sources.append(src)

    # deterministic shuffle so clusters aren't contiguous on doc_id
    order = rng.permutation(n_docs)
    texts = [texts[i] for i in order]
    langs = [langs[i] for i in order]
    sources = [sources[i] for i in order]
    return pa.table(
        {
            "doc_id": pa.array(range(n_docs), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(langs, pa.string()),
            "source": pa.array(sources, pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


BASE_PARTS = 20_000        # sf0.1's part row count
PART_NAME_WORDS = 5        # TPC-H p_name shape: 5 words
PART_NAME_VOCAB = 2_000    # ×√scale (Heaps β ≈ 0.5), like --heaps docs
PART_TWIN_FRACTION = 0.015  # planted typo twins, linear in n
N_BRANDS = 25              # TPC-H Brand#11..Brand#55


def gen_part(
    n_parts: int, rng: np.random.Generator, scale: int
) -> pa.Table:
    """Scaled ``part`` fixture for the d13 linkage rehearsal
    (measured candidate-pair growth).

    Key-shifted replication of the sf0.1 table would be WRONG here:
    each copy repeats every p_name verbatim, so cross-copy
    distance-0 pairs make even the *true answer* quadratic by
    construction — a fixture artifact, not engine behavior. Instead
    names are drawn fresh, TPC-H-shaped (5 words), from a vocabulary
    that grows ∝ √n (Heaps' law, β ≈ 0.5 — the same
    realistic-corpus regime the --heaps documents variant and
    HEAPS_SWEEP.json use): bigger part catalogs name more distinct
    things. Under that regime random distance-≤2 collisions stay
    negligible and segment-sharing collisions grow ~linearly, so
    the measured quantity is the ENGINE's candidate discipline.
    ~1.5% of parts are planted typo twins (1-2 char edits of an
    earlier same-brand name, Levenshtein ≤ 2 by construction), so
    the true match count grows LINEARLY with the corpus."""
    vocab_size = int(PART_NAME_VOCAB * scale**0.5)
    alphabet = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lens = rng.integers(4, 9, size=vocab_size)
    vocab = np.array(
        ["".join(rng.choice(alphabet, size=n)) for n in lens]
    )
    brands = np.array(
        [f"Brand#{i}{j}" for i in range(1, 6) for j in range(1, 6)]
    )
    assert len(brands) == N_BRANDS

    n_twins = int(n_parts * PART_TWIN_FRACTION)
    names: list[str] = []
    brand_col: list[str] = []
    for _ in range(n_parts - n_twins):
        words = vocab[rng.integers(0, vocab_size, size=PART_NAME_WORDS)]
        names.append(" ".join(words))
        brand_col.append(str(brands[rng.integers(0, N_BRANDS)]))
    for _ in range(n_twins):
        i = int(rng.integers(0, len(names)))
        name = list(names[i])
        for _ in range(int(rng.integers(1, 3))):
            op = rng.integers(0, 3)
            pos = int(rng.integers(0, len(name)))
            ch = str(rng.choice(alphabet))
            if op == 0:
                name[pos] = ch          # substitute
            elif op == 1 and len(name) > 1:
                del name[pos]           # delete
            else:
                name.insert(pos, ch)    # insert
        names.append("".join(name))
        brand_col.append(brand_col[i])  # twin shares the brand block

    order = rng.permutation(n_parts)
    return pa.table(
        {
            "p_partkey": pa.array(range(n_parts), pa.int64()),
            "p_name": pa.array([names[i] for i in order], pa.string()),
            "p_brand": pa.array(
                [brand_col[i] for i in order], pa.string()
            ),
        }
    )


def gen_embeddings(n_emb: int, rng: np.random.Generator) -> pa.Table:
    centers = rng.normal(0.0, 1.0, size=(N_LABELS, EMB_DIM))
    labels = rng.integers(0, N_LABELS, size=n_emb)
    vecs = (
        centers[labels] + rng.normal(0.0, 0.35, size=(n_emb, EMB_DIM))
    ).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(range(n_emb), pa.int64()),
            "embedding": pa.array(
                [v.tolist() for v in vecs], pa.list_(pa.float32())
            ),
            "label": pa.array(labels.astype(np.int32), pa.int32()),
        }
    )


def main(
    root: str, scales: tuple[int, ...] = SCALES, heaps: bool = False
) -> None:
    for scale in scales:
        out = os.path.join(root, f"x{scale}")
        os.makedirs(out, exist_ok=True)
        # independent stream per scale: reproducible regardless of
        # which scales are (re)generated
        # (seed layout unchanged for the default mode so the
        # fixed-vocab fixtures stay byte-identical)
        rng = np.random.default_rng([SEED, scale] + ([1] if heaps else []))
        # Heaps' law: vocabulary grows ∝ (corpus tokens)^β, β ≈ 0.5
        # for natural text. The fixed-vocab default deliberately
        # stresses the df² join product (every token's document
        # frequency grows linearly with the corpus); the heaps
        # variant is the realistic-corpus regime the 100 TB playbook
        # argument assumes — heaps_sweep.py measures that argument
        # instead of arguing it (SCALING.md "Heaps-law sweep").
        vocab_size = (
            int(VOCAB_SIZE * scale**0.5) if heaps else VOCAB_SIZE
        )
        docs = gen_documents(BASE_DOCS * scale, rng, vocab_size)
        emb = gen_embeddings(BASE_EMB * scale, rng)
        pq.write_table(docs, os.path.join(out, "documents.parquet"))
        pq.write_table(emb, os.path.join(out, "embeddings.parquet"))
        # part: independent RNG stream so the docs+embeddings
        # fixtures above stay byte-identical to their committed
        # measurements
        part = gen_part(
            BASE_PARTS * scale, np.random.default_rng([SEED, scale, 2]),
            scale,
        )
        pq.write_table(part, os.path.join(out, "part.parquet"))
        print(
            f"x{scale}: {docs.num_rows} docs (vocab {vocab_size}), "
            f"{emb.num_rows} embeddings, {part.num_rows} parts -> {out}"
        )


if __name__ == "__main__":
    heaps_flag = "--heaps" in sys.argv
    args = [a for a in sys.argv[1:] if a != "--heaps"]
    root_arg = (
        args[0]
        if args
        else os.path.join(
            os.path.dirname(__file__),
            "..",
            ".scale" if not heaps_flag else os.path.join(".scale", "heaps"),
        )
    )
    scales_arg = (
        tuple(int(s) for s in args[1].split(",")) if len(args) > 1 else SCALES
    )
    main(root_arg, scales_arg, heaps=heaps_flag)
