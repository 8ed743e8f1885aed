"""Seeded inputs for the benchmark workloads.

Catalog tables come from ``tools/gen_scale_probe_data.generate``, so
they keep its schemas and value distributions. That tool fixes its
random seeds, so it is loaded here as a private module copy whose
``np.random.default_rng(s)`` draws from ``(seed, s)`` instead, and whose
base cardinalities are the workload's own. The tool file is not edited.

Generated tables are cached per (workload, seed, row counts) under the
work directory, outside the package, and written atomically (temp dir, then
rename), so an interrupted run never leaves a half-written cache.
"""

from __future__ import annotations

import hashlib
import importlib.util
import json
import os
import shutil
import types

import numpy as np

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_GEN_TOOL = os.path.join(REPO, "tools", "gen_scale_probe_data.py")


class _SeededNumpy:
    """The numpy module, except that ``random.default_rng(s)`` returns a
    generator seeded by ``(seed, s)``."""

    def __init__(self, seed: int):
        self.random = types.SimpleNamespace(
            default_rng=lambda s: np.random.default_rng([seed, s]))

    def __getattr__(self, name):
        return getattr(np, name)


def _generator(seed: int, base: dict[str, int]) -> types.ModuleType:
    spec = importlib.util.spec_from_file_location("_perfbench_gen", _GEN_TOOL)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    mod.np = _SeededNumpy(seed)
    mod.BASE = {**mod.BASE, **base}
    return mod


def catalog_tables(work: str, name: str, seed: int,
                   base: dict[str, int]) -> str:
    """Directory holding the ten catalog tables for ``name`` at ``seed``,
    with ``base`` row counts; generated on first use."""
    counts = hashlib.sha1(json.dumps(base, sort_keys=True).encode())
    out = os.path.join(work, "data",
                       f"{name}-seed{seed}-{counts.hexdigest()[:10]}")
    if os.path.isdir(out):
        return out
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    _generator(seed, base).generate(1.0, tmp)
    os.rename(tmp, out)
    return out


# --- yaml_pipelines: fresh inputs for every pass --------------------------

WORDS = ("alpha bravo charlie delta echo foxtrot golf hotel india juliet "
         "kilo lima mike november oscar papa quebec romeo sierra tango").split()


def pass_rng(seed: int, pass_no: int) -> np.random.Generator:
    return np.random.default_rng([seed, pass_no])


def _text(rng: np.random.Generator, n_words: int) -> str:
    return " ".join(WORDS[i] for i in rng.integers(0, len(WORDS), n_words))


def _hits(rng: np.random.Generator, n: int, share: float) -> np.ndarray:
    """``n`` flags, exactly ``round(n * share)`` of them set at random
    places, so that every pass and every seed does the same work."""
    flags = np.zeros(n, dtype=bool)
    flags[rng.choice(n, round(n * share), replace=False)] = True
    return flags


def mixed_files(rng: np.random.Generator, out_dir: str, tag: str,
                n_files: int, rows: int, marker: str) -> int:
    """Half CSV (``id,status,amount``), half text files. A third of each
    kind carry ``marker`` (in a CSV ``status`` cell, or in the text).
    Returns how many files carry it."""
    os.makedirs(out_dir, exist_ok=True)
    csv_hits = _hits(rng, (n_files + 1) // 2, 1 / 3)
    text_hits = _hits(rng, n_files // 2, 1 / 3)
    kept = int(csv_hits.sum() + text_hits.sum())
    for i in range(n_files):
        hit = (csv_hits if i % 2 == 0 else text_hits)[i // 2]
        if i % 2 == 0:
            status = np.array(["OK", "WARN"])[rng.integers(0, 2, rows)]
            if hit:
                status[rng.integers(0, rows)] = marker
            amount = np.round(rng.uniform(0, 1000, rows), 2)
            body = "id,status,amount\n" + "".join(
                f"{j},{s},{a}\n" for j, (s, a) in enumerate(zip(status,
                                                                amount)))
            name = f"{tag}_{i:04d}.csv"
        else:
            words = _text(rng, rows * 3).split()
            if hit:
                words.insert(int(rng.integers(0, len(words))), marker)
            body = " ".join(words) + "\n"
            name = f"{tag}_{i:04d}.txt"
        with open(os.path.join(out_dir, name), "w") as fh:
            fh.write(body)
    return kept


def kafka_values(rng: np.random.Generator, pass_no: int, n: int,
                 marker: str) -> tuple[list[tuple[None, bytes]], int]:
    """``n`` unkeyed records, 40% carrying ``marker``; returns the
    records and that count."""
    hits = _hits(rng, n, 0.4)
    recs = [(None, f"{'%s ' % marker if h else ''}{pass_no}-{i} "
                   f"{_text(rng, 6)}".encode())
            for i, h in enumerate(hits)]
    return recs, int(hits.sum())


def jdbc_rows(rng: np.random.Generator, first_id: int, n: int,
              marker: str) -> tuple[list[tuple[int, str, float]], int]:
    """``n`` ``(id, tag, amount)`` rows, 30% tagged ``marker``."""
    hits = _hits(rng, n, 0.3)
    tags = np.array(["plain", "other"])[rng.integers(0, 2, n)].astype(object)
    tags[hits] = marker
    amount = np.round(rng.uniform(0, 500, n), 2)
    return ([(first_id + i, str(t), float(a))
             for i, (t, a) in enumerate(zip(tags, amount))], int(hits.sum()))


def dedup_files(rng: np.random.Generator, out_dir: str,
                previous: list[str], n_files: int) -> list[str]:
    """``n_files`` text files with distinct contents: up to half repeat
    contents of ``previous`` (the last pass), the rest are new. Returns
    the contents written."""
    os.makedirs(out_dir, exist_ok=True)
    n_old = min(len(previous), n_files // 2)
    old = [previous[i] for i in rng.choice(len(previous), n_old,
                                           replace=False)] if n_old else []
    contents = old + [_text(rng, 40) for _ in range(n_files - n_old)]
    for i, text in enumerate(contents):
        with open(os.path.join(out_dir, f"doc_{i:04d}.txt"), "w") as fh:
            fh.write(text)
    return contents
