"""Seeded input generators for the benchmark workloads.

Every input is a pure function of (workload, seed): the same seed gives
byte-identical files. Inputs land in ``<work>/inputs/<workload>-<seed>/`` and
are reused when a previous run already wrote them (a ``DONE`` marker is the
last file written, so a killed generator leaves nothing that looks complete).

``run.py`` calls :func:`ensure` in its own process; the measured Spark
session runs in a child process, so the generator's memory never counts
into the measured Python RSS.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np

# Workload sizes. A warm pass of each takes 0.7-3 s on a 4-vCPU VM, so a run
# holds several timed passes.
RASTER = {
    # dual-pol products at native resolution: the per-pixel frame, the
    # kernel and the JPEG encoder carry the cost
    "safe_synrgb_jpeg": {"products": 4, "size": 256, "pols": ("vv", "vh")},
    # many single-pol products downsampled on read to 128: per-product,
    # per-task and per-job overheads carry the cost
    "safe_preview_tiff": {"products": 16, "size": 512, "pols": ("vv",), "target": 128},
}
CORPUS = {"docs": 1000, "dup_share": 0.10, "vocab": 3000, "words": (40, 80)}


def seeded_rng(seed: int, *salt: int) -> np.random.Generator:
    return np.random.default_rng([seed, *salt])


def sar_band(rng: np.random.Generator, size: int) -> np.ndarray:
    """A u16 GRD-like intensity band: a smooth backscatter field (blocky
    low-res noise upsampled 16x), multiplicative gamma speckle, and a zero
    no-data border like a real swath edge. Only the pixels depend on the
    seed, not the statistics, so every seed costs the same to process."""
    coarse = rng.normal(0.0, 0.6, (size // 16 + 1, size // 16 + 1))
    field = np.exp(np.kron(coarse, np.ones((16, 16)))[:size, :size]) * 400.0
    speckle = rng.gamma(4.0, 0.25, (size, size))
    band = np.clip(field * speckle, 1.0, 65535.0).astype(np.uint16)
    band[:, : size // 32] = 0
    return band


def write_safe_products(root: str, seed: int, products: int, size: int, pols) -> None:
    """``products`` SAFE directories with the fixture manifest/annotation XML
    and one uncompressed u16 measurement TIFF per polarization."""
    from sarpro_spark.sinks.tiff import write_tiff
    from sarpro_spark.sources.fixtures import ANNOTATION, MANIFEST

    for i in range(products):
        p = os.path.join(root, f"S1A_IW_GRDH_{i:03d}.SAFE")
        os.makedirs(os.path.join(p, "annotation"))
        os.makedirs(os.path.join(p, "measurement"))
        with open(os.path.join(p, "manifest.safe"), "w", encoding="utf-8") as fh:
            fh.write(MANIFEST)
        with open(os.path.join(p, "annotation", "iw-vv.xml"), "w", encoding="utf-8") as fh:
            fh.write(ANNOTATION)
        for j, pol in enumerate(pols):
            band = sar_band(seeded_rng(seed, i, j), size)
            write_tiff(os.path.join(p, "measurement", f"s1a-iw-grd-{pol}-{i:03d}.tiff"), band)


def _word(rng: np.random.Generator) -> str:
    letters = rng.integers(0, 26, int(rng.integers(3, 11)))
    return "".join(chr(97 + c) for c in letters)


def corpus_frame(seed: int, docs: int, dup_share: float, vocab: int, words: tuple[int, int]):
    """(doc_id, text) with ``dup_share`` of the rows planted near-duplicates.

    Words come from a seeded letter-word vocabulary under a Zipf-like law
    (p ~ 1/(rank+10)), so distinct documents share common words but few
    character 5-grams. Originals take ids [0, n_orig); each planted copy
    takes a larger id and rewrites 5% of its source's words, so its 5-gram
    Jaccard to the source stays well above 0.5 and the source, being the
    smaller id, is the copy's canonical document. Each source has one copy,
    so every duplicate cluster is a pair and connected components needs the
    same number of rounds on every seed. Returns the frame and the list of
    (source_id, copy_id) pairs."""
    import pandas as pd

    rng = seeded_rng(seed, 1_000_003)
    vocab_words = [_word(rng) for _ in range(vocab)]
    p = 1.0 / (np.arange(vocab) + 10.0)
    p /= p.sum()
    n_dup = int(round(docs * dup_share))
    n_orig = docs - n_dup
    texts = []
    for _ in range(n_orig):
        idx = rng.choice(vocab, int(rng.integers(words[0], words[1] + 1)), p=p)
        texts.append([vocab_words[k] for k in idx])
    pairs = []
    for k, src in enumerate(rng.choice(n_orig, n_dup, replace=False).tolist()):
        copy = list(texts[src])
        for pos in rng.choice(len(copy), max(1, len(copy) // 20), replace=False):
            copy[pos] = vocab_words[int(rng.integers(0, vocab))]
        texts.append(copy)
        pairs.append((src, n_orig + k))
    frame = pd.DataFrame(
        {"doc_id": np.arange(docs, dtype=np.int64), "text": [" ".join(t) for t in texts]}
    )
    return frame, pairs


def write_corpus(root: str, seed: int) -> None:
    frame, pairs = corpus_frame(seed, **CORPUS)
    os.makedirs(root)
    frame.to_parquet(os.path.join(root, "docs.parquet"), index=False)
    with open(os.path.join(root, "planted.json"), "w", encoding="utf-8") as fh:
        json.dump(pairs, fh)


def ensure(work: str, workload: str, seed: int) -> str:
    """Generate (or reuse) the inputs of ``workload`` for ``seed``; returns
    their directory."""
    root = os.path.join(work, "inputs", f"{workload}-{seed}")
    if os.path.exists(os.path.join(root, "DONE")):
        return root
    shutil.rmtree(root, ignore_errors=True)
    if workload in RASTER:
        cfg = RASTER[workload]
        os.makedirs(root)
        write_safe_products(root, seed, cfg["products"], cfg["size"], cfg["pols"])
    elif workload == "corpus_dedup":
        write_corpus(root, seed)
    else:
        raise ValueError(f"unknown workload {workload!r}")
    open(os.path.join(root, "DONE"), "w").close()
    return root
