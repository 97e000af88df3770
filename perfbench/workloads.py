"""The three benchmark workloads: one pass each, its numpy reference, and
the check of its outputs.

A pass drives the public functions of ``sarpro_spark.sources``,
``operators``, ``sinks`` and ``llm`` as one caller would, through a
:class:`Pass`. Untraced, each layer call only builds its DataFrame and the
sink's action runs the whole plan. Traced, each layer's output is persisted
and counted right after the call, so a layer's time is its own call plus an
action on its output, over inputs that are already materialized.
"""

from __future__ import annotations

import hashlib
import json
import os
import time

import numpy as np

import gen

KEYS = ["product_path", "row", "col"]
GROUP = ["product_path"]
# JPEG at quality 90 against the float-exact synRGB reference: synthetic
# speckle is near worst case for DCT coding and measures ~30 dB, while a
# misplaced pixel block or a swapped channel falls far below.
MIN_JPEG_PSNR_DB = 25.0
# Planted copies rewrite 5% of their source's words, so their 5-gram Jaccard
# stays well above the 0.5 threshold; 4x4-band MinHash-LSH finds 93-100% of
# the 100 copies depending on the seed, so the floor leaves binomial room.
MIN_PLANTED_RECALL = 0.8


class Pass:
    """One pass's layer calls, timed one by one."""

    def __init__(self, spark, group: str, traced: bool):
        self.sc = spark.sparkContext
        self.group = group
        self.traced = traced
        self.steps: list[dict] = []
        self._cached = []

    def _begin(self, name: str) -> float:
        self.sc.setJobGroup(f"{self.group}|{name}", name)
        return time.perf_counter()

    def step(self, name: str, build, materialize: bool = True):
        """Call one layer. ``build`` returns a DataFrame or a tuple of them."""
        t0 = self._begin(name)
        out = build()
        t1 = time.perf_counter()
        rows = 0
        if self.traced and materialize:
            for df in out if isinstance(out, tuple) else (out,):
                self._cached.append(df.persist())
                rows += df.count()
        self.steps.append(
            {"name": name, "construct_s": t1 - t0, "s": time.perf_counter() - t0, "rows": rows}
        )
        return out

    def sink(self, name: str, build, act):
        """Call the sink layer and run its action; returns the action's result."""
        t0 = self._begin(name)
        df = build()
        t1 = time.perf_counter()
        result = act(df)
        self.steps.append({"name": name, "construct_s": t1 - t0, "s": time.perf_counter() - t0, "rows": 0})
        return result

    def close(self) -> None:
        for df in self._cached:
            df.unpersist(blocking=True)
        self.sc.setJobGroup("idle", "idle")


def _opened(spark, inputs: str):
    """Opened products keyed by directory name (the writers name each output
    file after the group key)."""
    from pyspark.sql import functions as F

    from sarpro_spark.sources import safe

    prods = safe.open_products(spark, inputs)
    return prods.where(F.col("status") == "ok").withColumn(
        "product_path", F.regexp_extract("product_path", r"([^/]+)$", 1)
    )


def _product_names(inputs: str) -> list[str]:
    return sorted(d for d in os.listdir(inputs) if d.endswith(".SAFE"))


def _band_db(v: np.ndarray):
    from sarpro_spark.types import DB_VALID_THRESHOLD, EPS_INTENSITY

    db = 10.0 * np.log10(np.maximum(v, EPS_INTENSITY))
    return db, db > DB_VALID_THRESHOLD


class SynRgbJpeg:
    """Dual-pol SAFE products -> per-pixel frame -> synRGB kernel -> JPEG."""

    name = "safe_synrgb_jpeg"

    def __init__(self, inputs: str, seed: int):
        self.inputs, self.seed = inputs, seed
        self.cfg = gen.RASTER[self.name]
        self.first_hashes: dict[str, str] = {}

    def run(self, spark, out: str, p: Pass):
        from sarpro_spark.operators import kernel
        from sarpro_spark.sinks import writers
        from sarpro_spark.sources import safe

        prods = p.step("sources.open", lambda: _opened(spark, self.inputs))
        vv, vh = p.step(
            "sources.decode",
            lambda: (safe.read_bands_px(prods, "vv", value="vv"),
                     safe.read_bands_px(prods, "vh", value="vh")),
        )
        rgb = p.step(
            "operators.kernel",
            lambda: kernel.multiband_synrgb_kernel(vv.join(vh, KEYS), GROUP),
        )
        return p.sink(
            "sinks.write",
            lambda: writers.write_jpegs(rgb, out, GROUP),
            lambda m: [r.asDict() for r in m.collect()],
        )

    def reference(self) -> dict[str, np.ndarray]:
        """Per product, the synRGB composite computed with the kernel's numpy
        reference functions straight from the generated arrays."""
        from sarpro_spark.operators.kernel import (
            histogram_stats_np, quantize_np, synrgb_default_np, tamed_synrgb_params_np,
        )

        def band_q(band: np.ndarray, is_copol: bool) -> np.ndarray:
            db, valid = _band_db(band.astype(np.float64))
            s = histogram_stats_np(db[valid])
            low, high = tamed_synrgb_params_np(s, is_copol)
            return quantize_np(db, valid, low, high, 1.0, 255.0)

        size, ref = self.cfg["size"], {}
        for i, name in enumerate(_product_names(self.inputs)):
            vv = gen.sar_band(gen.seeded_rng(self.seed, i, 0), size)
            vh = gen.sar_band(gen.seeded_rng(self.seed, i, 1), size)
            r, g, b = synrgb_default_np(band_q(vv, True), band_q(vh, False))
            ref[name] = np.stack([r, g, b], axis=-1).astype(np.uint8)
        return ref

    def check(self, result, out: str, ref) -> tuple[int, list[str]]:
        """Each product's JPEG decodes within the PSNR bound (first pass) and
        is byte-identical to the first pass's file (every later pass)."""
        from sarpro_spark.sinks.jpeg import decode_jpeg

        errors, written = [], {r["product_path"]: r["path"] for r in result}
        for name, want in ref.items():
            path = written.get(name)
            if path is None or not os.path.isfile(path):
                errors.append(f"{name}: no JPEG written")
                continue
            with open(path, "rb") as fh:
                data = fh.read()
            digest = hashlib.sha256(data).hexdigest()
            if name not in self.first_hashes:
                got = decode_jpeg(data)
                mse = float(np.mean((got.astype(np.float64) - want) ** 2))
                psnr = 10.0 * np.log10(255.0**2 / max(mse, 1e-12))
                if got.shape != want.shape or psnr < MIN_JPEG_PSNR_DB:
                    errors.append(f"{name}: shape {got.shape} PSNR {psnr:.2f} dB")
                    continue
                self.first_hashes[name] = digest
            elif digest != self.first_hashes[name]:
                errors.append(f"{name}: JPEG bytes differ from the first pass")
        return len(ref), errors


class PreviewTiff:
    """Single-pol SAFE products -> downsample-on-read -> standard U8 kernel
    -> GeoTIFF."""

    name = "safe_preview_tiff"

    def __init__(self, inputs: str, seed: int):
        self.inputs, self.seed = inputs, seed
        self.cfg = gen.RASTER[self.name]

    def run(self, spark, out: str, p: Pass):
        from sarpro_spark.operators import kernel
        from sarpro_spark.sinks import writers
        from sarpro_spark.sources import safe
        from sarpro_spark.types import AutoscaleStrategy, BitDepth

        prods = p.step("sources.open", lambda: _opened(spark, self.inputs))
        px = p.step(
            "sources.decode",
            lambda: safe.read_bands_px(prods, "vv", target_size=self.cfg["target"]),
        )
        q = p.step(
            "operators.kernel",
            lambda: kernel.single_band_kernel(px, GROUP, AutoscaleStrategy.STANDARD, BitDepth.U8),
        )
        return p.sink(
            "sinks.write",
            lambda: writers.write_geotiffs(q, out, GROUP, ["q"], bits=8),
            lambda m: [r.asDict() for r in m.collect()],
        )

    def reference(self) -> dict[str, np.ndarray]:
        """Per product, the U8 preview computed with the kernel's numpy
        reference functions from the generated array, pooled as
        ``load_band`` pools."""
        from sarpro_spark.operators.kernel import (
            clip_params_np, histogram_stats_np, quantize_np, scale_u16_to_u8_np,
        )

        size, target, ref = self.cfg["size"], self.cfg["target"], {}
        for i, name in enumerate(_product_names(self.inputs)):
            arr = gen.sar_band(gen.seeded_rng(self.seed, i, 0), size)
            k = int(np.ceil(size / target))
            t = size - size % k
            pooled = arr[:t, :t].astype(np.float64).reshape(t // k, k, t // k, k).mean(axis=(1, 3))
            db, valid = _band_db(pooled)
            s = histogram_stats_np(db[valid])
            low, high, gamma = clip_params_np(s, "standard")
            q = scale_u16_to_u8_np(quantize_np(db, valid, low, high, gamma, 255.0))
            ref[name] = q.astype(np.uint8)
        return ref

    def check(self, result, out: str, ref) -> tuple[int, list[str]]:
        """Each product's GeoTIFF decodes back equal to the reference."""
        from sarpro_spark.sinks.tiff import read_tiff

        errors, written = [], {r["product_path"]: r["path"] for r in result}
        for name, want in ref.items():
            path = written.get(name)
            if path is None or not os.path.isfile(path):
                errors.append(f"{name}: no GeoTIFF written")
                continue
            got, _meta = read_tiff(path)
            if got.shape != want.shape or not np.array_equal(got, want):
                errors.append(f"{name}: GeoTIFF differs from the reference")
        return len(ref), errors


class CorpusDedup:
    """Corpus -> MinHash-LSH verified pairs -> connected components ->
    canonical documents written as Parquet."""

    name = "corpus_dedup"

    def __init__(self, inputs: str, seed: int):
        self.inputs, self.seed = inputs, seed
        self.kept_first: int | None = None
        self.recall = 0.0

    def run(self, spark, out: str, p: Pass):
        from sarpro_spark.llm import cluster, dedup

        docs = p.step(
            "sources.open",
            lambda: spark.read.parquet(os.path.join(self.inputs, "docs.parquet")),
            materialize=False,
        )
        docs = p.step("sources.decode", lambda: docs)
        pairs = p.step("llm.minhash", lambda: dedup.minhash_jaccard_pairs(docs, threshold=0.5))
        clusters = p.step("llm.cluster", lambda: cluster.dedup_clusters(docs, pairs))
        canonical = clusters.where("is_canonical").select("doc_id")
        p.sink(
            "sinks.write",
            lambda: docs.join(canonical, "doc_id", "left_semi"),
            lambda df: df.write.mode("overwrite").parquet(out),
        )
        return None

    def reference(self) -> dict:
        import pyarrow.parquet as pq

        with open(os.path.join(self.inputs, "planted.json"), encoding="utf-8") as fh:
            planted = json.load(fh)
        n = pq.read_metadata(os.path.join(self.inputs, "docs.parquet")).num_rows
        return {"docs": n, "copies": {c for _s, c in planted}}

    def check(self, result, out: str, ref) -> tuple[int, list[str]]:
        """The dropped documents are planted copies only, at least
        MIN_PLANTED_RECALL of the copies are dropped, and the kept count
        repeats exactly from pass to pass."""
        import pyarrow.parquet as pq

        kept = set(pq.read_table(out, columns=["doc_id"]).column("doc_id").to_pylist())
        dropped = set(range(ref["docs"])) - kept
        self.recall = len(dropped & ref["copies"]) / len(ref["copies"])
        errors = []
        if dropped - ref["copies"]:
            errors.append(f"{len(dropped - ref['copies'])} unplanted documents dropped")
        if self.recall < MIN_PLANTED_RECALL:
            errors.append(f"planted-pair recall {self.recall:.3f} < {MIN_PLANTED_RECALL}")
        if self.kept_first is None:
            self.kept_first = len(kept)
        elif len(kept) != self.kept_first:
            errors.append(f"kept {len(kept)} documents, first pass kept {self.kept_first}")
        return 1, ["; ".join(errors)] if errors else []


WORKLOADS = {w.name: w for w in (SynRgbJpeg, PreviewTiff, CorpusDedup)}


def output_bytes(out: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _s, files in os.walk(out) for f in files
    )
