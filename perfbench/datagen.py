"""Seeded input data for the benchmark, cached by (seed, scale).

The inputs come from the engine's own generator, ``fgcspark.synth.pages``,
with its module globals ``SEED`` and ``DATA_DIR`` set from here, so the
generator file stays untouched and nothing is written under ``data/``.
The generator writes forward goldens (truth, pip, knn, dwithin, fpjoin)
beside the pages, which the benchmark uses to check every output.

Run as a script to generate one dataset:

    python3 perfbench/datagen.py <seed> <cache_dir>
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

# sf0.01 (10,000 pages): generation takes ~9 s on a 4-core host, against
# ~80 s for sf0.1, where the brute-force footprint-join golden dominates.
SCALE = "sf0.01"


def dataset_dir(cache_dir: Path, seed: int) -> Path:
    return cache_dir / f"seed-{seed}" / SCALE


def is_cached(cache_dir: Path, seed: int) -> bool:
    return (dataset_dir(cache_dir, seed) / "_SUCCESS").exists()


def generate(seed: int, cache_dir: Path) -> tuple[Path, float]:
    """Generate (or reuse) the dataset for ``seed``; returns (dir, seconds)."""
    import fgcspark.synth.pages as pages

    t0 = time.perf_counter()
    pages.SEED = int(seed)
    pages.DATA_DIR = cache_dir / f"seed-{seed}"
    out = pages.generate(SCALE, out_dir=pages.DATA_DIR)
    return out, time.perf_counter() - t0


if __name__ == "__main__":
    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
    out, secs = generate(int(sys.argv[1]), Path(sys.argv[2]))
    print(f"{out} {secs:.3f}")
