"""Seeded input generator for the benchmark.

Everything the engine reads is made here from the run's ``--seed``: the
same seed gives byte-identical inputs. Tables are written as parquet
*directories* holding one part file (``<name>.parquet/part-0.parquet``),
so Spark is always handed a directory, never a ``*`` glob.

Embeddings and lineitem come from ``tools/gen_scaledata.py``'s
generators, driven by this module's own ``rng``, so their schemas match
the driver fixtures column for column; the reference's line-format text
files are made here.
"""

from __future__ import annotations

import sys
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT / "tools"))

import gen_scaledata as gsd  # noqa: E402  (tools/ is not a package)


def _write(tbl: pa.Table, path: Path) -> None:
    path.mkdir(parents=True)
    pq.write_table(tbl, path / "part-0.parquet")


def text_files(out: Path, n_files: int, n_lines: int, rng: np.random.Generator) -> None:
    """Reference ``wc`` input: lines of fixture-vocabulary words
    (ASCII letters only, so the checks can count words with an ASCII
    split) joined by spaces and punctuation."""
    out.mkdir(parents=True)
    seps = np.array([" ", " ", " ", ", ", ". ", "; "])
    for f in range(n_files):
        lines = []
        for _ in range(n_lines):
            k = int(rng.integers(3, 16))
            words = [gsd.VOCAB[w] for w in rng.integers(0, len(gsd.VOCAB), k)]
            gaps = seps[rng.integers(0, len(seps), k - 1)]
            lines.append("".join(w + g for w, g in zip(words, gaps)) + words[-1])
        (out / f"book-{f}.txt").write_text("\n".join(lines) + "\n")


def table_stats(data: Path) -> dict[str, dict[str, int]]:
    """Row count and on-disk bytes of every input under ``data``."""
    stats = {}
    for entry in sorted(data.iterdir()):
        files = sorted(p for p in entry.rglob("*") if p.is_file())
        if entry.suffix == ".parquet":
            rows = sum(pq.ParquetFile(p).metadata.num_rows for p in files)
        else:
            rows = sum(p.read_bytes().count(b"\n") for p in files)
        stats[entry.name] = {"rows": rows, "bytes": sum(p.stat().st_size for p in files)}
    return stats


def generate(workload: str, seed: int, data: Path) -> dict[str, dict[str, int]]:
    """Write ``workload``'s inputs under ``data``; return per-table stats."""
    rng = np.random.default_rng(seed)
    data.mkdir(parents=True)
    if workload == "pair_similarity":
        # 2 000 vectors: at 1 000 the builder (planning, the table read)
        # still takes as long as the IVF probe and rerank (action); here
        # the action leads, measured on 4 cores.
        _write(gsd.gen_embeddings(0.1, rng), data / "embeddings.parquet")
        text_files(data / "books", 4, 400, rng)
    elif workload == "iterative_materialize":
        # 6 000 lines with Zipf part popularity: a co-purchase graph whose
        # label propagation runs several checkpointed rounds.
        _write(gsd.gen_lineitem(0.001, rng), data / "lineitem.parquet")
    else:
        raise ValueError(f"unknown workload {workload!r}")
    return table_stats(data)
