"""Seeded input generator for the benchmark.

One process builds every input table with numpy and writes it as
parquet; Spark only ever sees the files. Each table is a pure function
of (name, seed, size parameters), cached under the work directory by
those, so generation stays out of the timed set-up. Next to the files
it writes ``manifest.json`` (rows, tokens, files, bytes, distinct/total
ratio) and the reference results the benchmark checks against, built
on the driver with the library's own numpy sketch kernels.

Tables (``sequences`` shape: doc_id, tokens array<int>, n_tok[, source]):

- ``global``: Zipf tokens over a 100k vocabulary, split over 8 files.
- ``probe``: half Zipf members of ``global``'s vocabulary, half ids
  from a disjoint range 20000x wider than the vocabulary.
- ``keyed``: Zipf tokens with a ``source`` column; one hot source holds
  ~60% of the rows; 16 small files, one split each.
- ``ckpt``: Zipf tokens in 16 small files, for the checkpointed build.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GEN_VERSION = 1
VOCAB = 100_000
ZIPF_S = 1.1
MIN_LEN, MAX_LEN = 8, 512
ABSENT_LO, ABSENT_HI = VOCAB, 2_000_000_000
N_SOURCES = 8
HOT_SHARE = 0.6
KEEP_SEEDS = 10  # cached seeds per table (a 10-seed sweep stays cached); older ones are evicted

# sketch parameters shared by the generator's references and the runs
BLOOM_N, BLOOM_P = VOCAB, 0.01
HLL_P = 14
CMS_D, CMS_W = 5, 1 << 13
KLL_K = 200
CKPT_CUT = 0.25  # share of files whose checkpoint rows a resume rebuilds


@dataclass(frozen=True)
class TableSpec:
    name: str
    tokens: int
    files: int
    keyed: bool = False
    absent_share: float = 0.0


SPECS = {
    "global": TableSpec("global", 30_000_000, 8),
    "probe": TableSpec("probe", 15_000_000, 8, absent_share=0.5),
    "keyed": TableSpec("keyed", 3_000_000, 16, keyed=True),
    "ckpt": TableSpec("ckpt", 2_000_000, 16),
}

SOURCES = [f"src{i:02d}" for i in range(N_SOURCES)]


def _source_weights() -> np.ndarray:
    cold = 1.0 / np.arange(1, N_SOURCES)
    return np.concatenate(([HOT_SHARE], (1.0 - HOT_SHARE) * cold / cold.sum()))


def zipf_ids(rng: np.random.Generator, n: int, perm: np.ndarray) -> np.ndarray:
    """n Zipf(s) token ids: continuous power-law inverse CDF over ranks
    1..VOCAB, ranks mapped to ids through a seeded permutation."""
    a = 1.0 - ZIPF_S
    u = rng.random(n)
    rank = np.floor(((float(VOCAB + 1) ** a - 1.0) * u + 1.0) ** (1.0 / a)).astype(np.int64)
    return perm[np.clip(rank, 1, VOCAB) - 1]


def make_table(spec: TableSpec, seed: int) -> dict[str, np.ndarray]:
    """Columns of one table as flat numpy arrays (tokens + row offsets)."""
    # one stream per table, all derived from the seed; the vocabulary
    # permutation is shared so that probe members are global's tokens
    perm = np.random.default_rng([seed, 0]).permutation(VOCAB).astype(np.int32)
    rng = np.random.default_rng([seed, 1 + list(SPECS).index(spec.name)])
    lens = rng.integers(MIN_LEN, MAX_LEN + 1, size=spec.tokens // MIN_LEN + 1)
    rows = int(np.searchsorted(np.cumsum(lens), spec.tokens)) + 1
    lens = lens[:rows].astype(np.int32)
    n = int(lens.sum())
    toks = zipf_ids(rng, n, perm)
    if spec.absent_share:
        absent = rng.random(n) < spec.absent_share
        toks[absent] = rng.integers(ABSENT_LO, ABSENT_HI, size=int(absent.sum()), dtype=np.int32)
    cols = {"tokens": toks, "lens": lens}
    if spec.keyed:
        cols["source"] = rng.choice(N_SOURCES, size=rows, p=_source_weights()).astype(np.int8)
    return cols


def _offsets(lens: np.ndarray) -> np.ndarray:
    return np.concatenate(([0], np.cumsum(lens, dtype=np.int64)))


def write_files(spec: TableSpec, cols: dict[str, np.ndarray], out: str) -> list[str]:
    os.makedirs(out, exist_ok=True)
    lens, toks = cols["lens"], cols["tokens"]
    offs = _offsets(lens)
    rows = len(lens)
    cut = np.linspace(0, rows, spec.files + 1).astype(np.int64)
    paths = []
    for i in range(spec.files):
        a, b = int(cut[i]), int(cut[i + 1])
        tok_offs = pa.array((offs[a : b + 1] - offs[a]).astype(np.int32))
        table = {
            "doc_id": pa.array(np.arange(a, b, dtype=np.int64)),
            "tokens": pa.ListArray.from_arrays(tok_offs, pa.array(toks[offs[a] : offs[b]])),
            "n_tok": pa.array(lens[a:b]),
        }
        if "source" in cols:
            table["source"] = pa.array(np.array(SOURCES)[cols["source"][a:b]])
        path = os.path.join(out, f"part-{i:05d}.parquet")
        pq.write_table(pa.table(table), path)
        paths.append(path)
    return paths


def distinct_of(toks: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(distinct ids, counts) of a token stream with ids in [0, VOCAB)."""
    counts = np.bincount(toks, minlength=VOCAB)
    nz = np.flatnonzero(counts)
    return nz.astype(np.int32), counts[nz]


def bloom_reference(distinct: np.ndarray, n_items: int) -> bytes:
    """The blocked Bloom payload any partitioning of the stream must give:
    insertion is idempotent, so distinct ids plus the total count fix it."""
    from rusty_bloomfilter_spark.sketch import BlockedBloomFilter

    f = BlockedBloomFilter.for_np(BLOOM_N, BLOOM_P)
    f.add_tokens(distinct)
    f.n_items = n_items
    return f.to_bytes()


def _references(spec: TableSpec, cols: dict[str, np.ndarray], seed: int, out: str) -> dict:
    from rusty_bloomfilter_spark.sketch import (
        BlockedBloomFilter,
        CountMinSketch,
        HyperLogLog,
        tokens_to_u64,
    )

    toks, lens = cols["tokens"], cols["lens"]
    ref: dict = {}
    if spec.name in ("global", "ckpt"):
        d, _ = distinct_of(toks)
        with open(os.path.join(out, "ref_bloom.bin"), "wb") as f:
            f.write(bloom_reference(d, len(toks)))
        ref["distinct"] = int(len(d))
    if spec.name == "ckpt":
        rng = np.random.default_rng([seed, 99])
        cut = rng.choice(spec.files, size=int(round(spec.files * CKPT_CUT)), replace=False)
        ref["cut_files"] = sorted(f"part-{i:05d}.parquet" for i in cut)
    if spec.name == "probe":
        g = make_table(SPECS["global"], seed)["tokens"]
        in_global = np.bincount(g, minlength=VOCAB) > 0
        member = (toks < VOCAB) & in_global[np.minimum(toks, VOCAB - 1)]
        f = BlockedBloomFilter.from_bytes(
            bloom_reference(np.flatnonzero(in_global).astype(np.int32), len(g))
        )
        hits = f.contains_tokens(toks)
        ref.update(
            members=int(member.sum()),
            absent=int((~member).sum()),
            expected_hits=int(hits.sum()),
            false_negatives=int((member & ~hits).sum()),
        )
    if spec.name == "keyed":
        row_of_tok = np.repeat(cols["source"], lens)
        per = {}
        for k, name in enumerate(SOURCES):
            st = toks[row_of_tok == k]
            d, c = distinct_of(st)
            hll = HyperLogLog(HLL_P).add_tokens(d)
            hll.n_items = len(st)
            cms = CountMinSketch(CMS_D, CMS_W).add_u64(tokens_to_u64(d), c)
            for kind, payload in (
                ("bloom", bloom_reference(d, len(st))),
                ("hll", hll.to_bytes()),
                ("cms", cms.to_bytes()),
            ):
                with open(os.path.join(out, f"ref_{kind}_{name}.bin"), "wb") as f:
                    f.write(payload)
            rows = cols["source"] == k
            per[name] = {
                "rows": int(rows.sum()),
                "tokens": int(len(st)),
                "distinct": int(len(d)),
                "n_tok_median": float(np.median(lens[rows])),
            }
        ref["sources"] = per
    return ref


def cache_key(name: str, seed: int) -> str:
    spec = SPECS[name]
    blob = json.dumps(
        [GEN_VERSION, spec.__dict__, VOCAB, ZIPF_S, MIN_LEN, MAX_LEN, ABSENT_HI,
         N_SOURCES, HOT_SHARE, BLOOM_N, BLOOM_P, HLL_P, CMS_D, CMS_W, CKPT_CUT],
        sort_keys=True,
    )
    return f"{name}-s{seed}-{hashlib.sha1(blob.encode()).hexdigest()[:10]}"


def ensure(name: str, seed: int, root: str) -> tuple[str, dict]:
    """Directory of table ``name`` for ``seed`` (generated if not cached)
    and its manifest."""
    out = os.path.join(root, cache_key(name, seed))
    man_path = os.path.join(out, "manifest.json")
    if os.path.exists(man_path):
        with open(man_path) as f:
            return out, json.load(f)
    shutil.rmtree(out, ignore_errors=True)
    spec = SPECS[name]
    cols = make_table(spec, seed)
    data = os.path.join(out, "data")
    paths = write_files(spec, cols, data)
    toks = cols["tokens"]
    in_vocab = toks[toks < VOCAB]
    distinct_total = (
        len(np.unique(toks)) if spec.absent_share else int((np.bincount(in_vocab) > 0).sum())
    ) / max(1, len(toks))
    manifest = {
        "table": name,
        "seed": seed,
        "rows": int(len(cols["lens"])),
        "tokens": int(len(toks)),
        "files": spec.files,
        "bytes": int(sum(os.path.getsize(p) for p in paths)),
        "distinct_total_ratio": distinct_total,
        "ref": _references(spec, cols, seed, out),
    }
    with open(man_path + ".tmp", "w") as f:
        json.dump(manifest, f, indent=1)
    os.replace(man_path + ".tmp", man_path)  # the manifest marks a complete entry
    _evict(root, name, keep=out)
    return out, manifest


def _evict(root: str, name: str, keep: str) -> None:
    entries = [
        os.path.join(root, d) for d in os.listdir(root) if d.startswith(f"{name}-s")
    ]
    entries.sort(key=os.path.getmtime, reverse=True)
    for old in [e for e in entries if e != keep][KEEP_SEEDS - 1 :]:
        shutil.rmtree(old, ignore_errors=True)
