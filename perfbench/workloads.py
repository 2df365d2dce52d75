"""The four workloads: inputs, set-up, the timed operation, its checks,
and the driver-side kernel timings of the traced run.

Every call into the library goes through its public functions
(``operators.sketches``, ``operators.aggregate``,
``operators.checkpoint``, ``sketch``); the benchmark times around them.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import gen

ARROW_BATCH_ROWS = 10_000  # Spark's default spark.sql.execution.arrow.maxRecordsPerBatch
KERNEL_SAMPLE_TOKENS = 2_000_000
FPR_PROBES = 2_000_000
LAYER_REPS = 2  # repetitions of each separately timed layer probe
HLL_TOLERANCE = 4.0  # x the HLL standard error 1.04/sqrt(2^p)


def _read(path: str) -> bytes:
    with open(path, "rb") as f:
        return f.read()


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, names in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, n)) for n in names)
    return total


def absent_fpr(payload: bytes, seed: int) -> float:
    """Observed FPR of a Bloom payload on ids outside the vocabulary."""
    from rusty_bloomfilter_spark.sketch import sketch_from_bytes

    ids = np.random.default_rng([seed, 7]).integers(
        gen.ABSENT_LO, gen.ABSENT_HI, size=FPR_PROBES, dtype=np.int32
    )
    return float(sketch_from_bytes(payload).contains_tokens(ids).mean())


def arrow_batches(files: list[str], columns: list[str], max_tokens: int | None = None):
    """The workload's own input as Arrow batches of Spark's batch size."""
    seen = 0
    for path in files:
        for batch in pq.ParquetFile(path).iter_batches(batch_size=ARROW_BATCH_ROWS, columns=columns):
            yield batch
            seen += len(batch.column("tokens").values)
            if max_tokens is not None and seen >= max_tokens:
                return


def bloom_spec():
    from rusty_bloomfilter_spark.operators.sketches import BlockedBloomSketch

    return BlockedBloomSketch.for_np(n=gen.BLOOM_N, p=gen.BLOOM_P)


class Workload:
    """One workload. ``tables`` are generated before set-up; ``setup``
    warms the workers and does the untimed prep; ``op`` is the timed
    operation; ``check`` returns a list of failed checks."""

    name = ""
    tables: tuple[str, ...] = ()
    input_table = ""
    columns = ["tokens"]
    session_conf: dict[str, str] = {}
    intended_splits = 0  # 0: one split per core

    def __init__(self, seed: int, data_root: str, work: str):
        self.seed = seed
        self.work = work
        self.dirs: dict[str, str] = {}
        self.man: dict[str, dict] = {}
        for t in self.tables:
            self.dirs[t], self.man[t] = gen.ensure(t, seed, data_root)
        self.files = sorted(
            os.path.join(self.data(self.input_table), f)
            for f in os.listdir(self.data(self.input_table))
            if f.endswith(".parquet")
        )

    def data(self, table: str) -> str:
        return os.path.join(self.dirs[table], "data")

    @property
    def tokens(self) -> int:
        return self.man[self.input_table]["tokens"]

    def setup(self, spark) -> None:
        self.spark = spark
        for k, v in self.session_conf.items():
            spark.conf.set(k, v)
        self.df = spark.read.parquet(self.data(self.input_table))
        self.prep()

    def prep(self) -> None:
        pass

    def before_rep(self) -> None:
        pass

    def op(self):
        raise NotImplementedError

    def check(self, result) -> list[str]:
        raise NotImplementedError

    def output_bytes(self, result) -> int:
        raise NotImplementedError

    def bloom_fpr(self, result) -> float:
        raise NotImplementedError

    def extra_report(self, result) -> dict:
        return {}

    # -- traced run: driver-side kernels over the workload's own batches --

    def build_specs(self):
        """(name, make_empty, update, merge) of the sketches the op builds."""
        from rusty_bloomfilter_spark.sketch import merge_sketch_payloads

        b = bloom_spec()
        return [("bloom", b._empty, b._update, merge_sketch_payloads)]

    def fold(self, accs: dict, batch, specs) -> None:
        """The op's stage-1 step: update ``accs`` (key -> one accumulator
        per spec; a global build has the single key None) with a batch."""
        ent = accs.get(None)
        if ent is None:
            ent = accs[None] = [mk() for _, mk, _, _ in specs]
        for acc, (_, _, upd, _) in zip(ent, specs):
            upd(acc, batch)

    def update_sample(self, specs, batches) -> tuple[float, int]:
        """(seconds, tokens) of the op's per-batch update path."""
        accs: dict = {}
        t = 0.0
        n = 0
        for batch in batches:
            t0 = time.perf_counter()
            self.fold(accs, batch, specs)
            t += time.perf_counter() - t0
            n += len(batch.column("tokens").values)
        return t, n

    def partials(self, specs) -> list[dict]:
        """Driver-side stage 1: one accumulator dict per input file."""
        out = []
        for path in self.files:
            accs: dict = {}
            for batch in arrow_batches([path], self.columns):
                self.fold(accs, batch, specs)
            out.append(accs)
        return out

    def merge_groups(self, specs, partial_sets) -> list[list[bytes]]:
        """Payload lists the op merges, one list per (key, sketch)."""
        keys = sorted({k for p in partial_sets for k in p}, key=str)
        return [
            [p[k][i].to_bytes() for p in partial_sets if k in p]
            for k in keys
            for i in range(len(specs))
        ]

    def update_units(self, batches):
        """The flat token arrays one update call sees, for dedup ratios."""
        from rusty_bloomfilter_spark.operators.sketches import arrow_flat_tokens

        for batch in batches:
            yield arrow_flat_tokens(batch, "tokens")

    def checkpoint_layers(self, result, tracer) -> dict:
        """operators.checkpoint.* of the op just run; 0 without a checkpoint."""
        return dict.fromkeys(
            (
                "operators.checkpoint.merge_only_s",
                "operators.checkpoint.built_files",
                "operators.checkpoint.resumed_files",
                "operators.checkpoint.bytes_written",
                "operators.checkpoint.bytes_read",
            ),
            0,
        )

    def probe_filter_payload(self) -> bytes:
        return _read(os.path.join(self.dirs[self.input_table], "ref_bloom.bin"))


class GlobalBuild(Workload):
    name = "global_build"
    tables = ("global",)
    input_table = "global"

    def op(self):
        return bloom_spec().build_bytes(self.df)

    def check(self, result) -> list[str]:
        payload, n_items = result
        bad = []
        if n_items != self.tokens:
            bad.append(f"n_items {n_items} != {self.tokens}")
        if payload != self.probe_filter_payload():
            bad.append("payload differs from the driver-side build")
        return bad

    def output_bytes(self, result) -> int:
        return len(result[0])

    def bloom_fpr(self, result) -> float:
        return absent_fpr(result[0], self.seed)


class Probe(Workload):
    name = "probe"
    tables = ("global", "probe")
    input_table = "probe"

    def prep(self) -> None:
        payload, _ = bloom_spec().build_bytes(self.spark.read.parquet(self.data("global")))
        self.filter_payload = payload

    def op(self):
        return bloom_spec().count_contained(self.df, self.filter_payload, self.spark)

    def check(self, result) -> list[str]:
        hits, total = result
        ref = self.man["probe"]["ref"]
        bad = []
        if self.filter_payload != _read(os.path.join(self.dirs["global"], "ref_bloom.bin")):
            bad.append("filter differs from the driver-side build")
        if ref["false_negatives"]:
            bad.append(f"{ref['false_negatives']} false negatives")
        if total != self.tokens:
            bad.append(f"total {total} != {self.tokens}")
        if hits != ref["expected_hits"]:
            bad.append(f"hits {hits} != {ref['expected_hits']}")
        if not 0 < self.bloom_fpr(result) <= 2 * gen.BLOOM_P:
            bad.append(f"fpr {self.bloom_fpr(result)} outside (0, {2 * gen.BLOOM_P}]")
        return bad

    def output_bytes(self, result) -> int:
        return len(self.filter_payload)

    def bloom_fpr(self, result) -> float:
        ref = self.man["probe"]["ref"]
        return (result[0] - ref["members"]) / ref["absent"]

    def probe_filter_payload(self) -> bytes:
        return self.filter_payload

    def update_sample(self, specs, batches) -> tuple[float, int]:
        """The probe's per-batch path: flatten, dedup fold, contains."""
        from rusty_bloomfilter_spark.operators.sketches import arrow_flat_tokens, dedup_counts
        from rusty_bloomfilter_spark.sketch import sketch_from_bytes

        bf = sketch_from_bytes(self.filter_payload)
        t = 0.0
        n = 0
        for batch in batches:
            t0 = time.perf_counter()
            toks = arrow_flat_tokens(batch, "tokens")
            dc = dedup_counts(toks)
            if dc is None:
                bf.contains_tokens(toks).sum()
            else:
                dc[1][bf.contains_tokens(dc[0])].sum()
            t += time.perf_counter() - t0
            n += toks.size
        return t, n


class KeyedSkew(Workload):
    name = "keyed_skew"
    tables = ("keyed",)
    input_table = "keyed"
    columns = ["source", "tokens", "n_tok"]
    # one split per file: the 16 files (~0.6 MB each) would otherwise be
    # packed into nproc splits
    session_conf = {"spark.sql.files.maxPartitionBytes": "4m"}
    intended_splits = 16

    def build_specs(self):
        from rusty_bloomfilter_spark.operators.sketches import CmsSketch, HllSketch, KllQuantiles
        from rusty_bloomfilter_spark.sketch import merge_sketch_payloads

        b = bloom_spec()
        h = HllSketch(gen.HLL_P)
        c = CmsSketch(gen.CMS_D, gen.CMS_W)
        k = KllQuantiles(gen.KLL_K, col="n_tok")
        return [
            (name, s._empty, s._update, merge_sketch_payloads)
            for name, s in (("bloom", b), ("hll", h), ("cms", c), ("kll", k))
        ]

    def op(self):
        from rusty_bloomfilter_spark.operators.aggregate import build_multi_by_key

        return build_multi_by_key(self.df, "source", self.build_specs(), columns=self.columns).collect()

    def hll_errors(self, rows) -> dict[str, float]:
        from rusty_bloomfilter_spark.sketch import HyperLogLog

        per = self.man["keyed"]["ref"]["sources"]
        return {
            r["key"]: abs(HyperLogLog.from_bytes(bytes(r["payload_hll"])).estimate() / per[r["key"]]["distinct"] - 1)
            for r in rows
        }

    def check(self, rows) -> list[str]:
        from rusty_bloomfilter_spark.sketch import KLLSketch

        per = self.man["keyed"]["ref"]["sources"]
        bad = []
        if sorted(r["key"] for r in rows) != sorted(per):
            bad.append(f"keys {sorted(r['key'] for r in rows)}")
            return bad
        hll_bound = HLL_TOLERANCE * 1.04 / np.sqrt(1 << gen.HLL_P)
        errs = self.hll_errors(rows)
        for r in rows:
            key, want = r["key"], per[r["key"]]
            if r["n_rows"] != want["rows"]:
                bad.append(f"{key}: n_rows {r['n_rows']} != {want['rows']}")
            for kind in ("bloom", "hll", "cms"):
                if r[f"n_{kind}"] != want["tokens"]:
                    bad.append(f"{key}: n_{kind} {r[f'n_{kind}']} != {want['tokens']}")
                ref = _read(os.path.join(self.dirs["keyed"], f"ref_{kind}_{key}.bin"))
                if bytes(r[f"payload_{kind}"]) != ref:
                    bad.append(f"{key}: {kind} payload differs from the driver-side build")
            kll = KLLSketch.from_bytes(bytes(r["payload_kll"]))
            if kll.n_items != want["rows"]:
                bad.append(f"{key}: kll n_items {kll.n_items} != {want['rows']}")
            elif abs(kll.rank(want["n_tok_median"]) - 0.5) > kll.rank_error() + 0.01:
                bad.append(f"{key}: kll rank of the median {kll.rank(want['n_tok_median'])}")
            if errs[key] > hll_bound:
                bad.append(f"{key}: hll relative error {errs[key]:.4f} > {hll_bound:.4f}")
        return bad

    def output_bytes(self, rows) -> int:
        return sum(len(r[f"payload_{k}"]) for r in rows for k in ("bloom", "hll", "cms", "kll"))

    def bloom_fpr(self, rows) -> float:
        hot = next(r for r in rows if r["key"] == gen.SOURCES[0])
        return absent_fpr(bytes(hot["payload_bloom"]), self.seed)

    def extra_report(self, rows) -> dict:
        errs = self.hll_errors(rows)
        return {"hll_rel_err": float(np.mean(list(errs.values())))}

    def probe_filter_payload(self) -> bytes:
        return _read(os.path.join(self.dirs["keyed"], f"ref_bloom_{gen.SOURCES[0]}.bin"))

    def fold(self, accs: dict, batch, specs) -> None:
        """The keyed stage 1: split the batch by key, update each key's set."""
        from rusty_bloomfilter_spark.operators.aggregate import iter_key_slices

        for key, sub in iter_key_slices(batch, "source"):
            ent = accs.get(key)
            if ent is None:
                ent = accs[key] = [mk() for _, mk, _, _ in specs]
            for acc, (_, _, upd, _) in zip(ent, specs):
                upd(acc, sub)

    def update_units(self, batches):
        from rusty_bloomfilter_spark.operators.aggregate import iter_key_slices
        from rusty_bloomfilter_spark.operators.sketches import arrow_flat_tokens

        for batch in batches:
            for _, sub in iter_key_slices(batch, "source"):
                yield arrow_flat_tokens(sub, "tokens")


class CheckpointResume(Workload):
    name = "checkpoint_resume"
    tables = ("ckpt",)
    input_table = "ckpt"

    cold = None

    def prep(self) -> None:
        """Cold build, then a checkpoint missing a seeded 25% of files.
        Built once per run: later set-ups find it on disk, as a restarted
        job would."""
        if self.cold is not None:
            return
        self.ckpt = os.path.join(self.work, "ckpt")
        self.cut_ckpt = os.path.join(self.work, "ckpt_cut")
        shutil.rmtree(self.ckpt, ignore_errors=True)
        self.cold = self.build()
        cut = set(self.man["ckpt"]["ref"]["cut_files"])
        table = pq.read_table(self.ckpt)
        keep = [os.path.basename(f) not in cut for f in table.column("file").to_pylist()]
        shutil.rmtree(self.cut_ckpt, ignore_errors=True)
        os.makedirs(self.cut_ckpt)
        pq.write_table(table.filter(pa.array(keep)), os.path.join(self.cut_ckpt, "part-cut.parquet"))

    def before_rep(self) -> None:
        """Restore the cut checkpoint (untimed)."""
        shutil.rmtree(self.ckpt, ignore_errors=True)
        shutil.copytree(self.cut_ckpt, self.ckpt)
        self.ckpt_bytes_before = dir_bytes(self.ckpt)

    def build(self):
        from rusty_bloomfilter_spark.operators.checkpoint import build_with_checkpoint
        from rusty_bloomfilter_spark.sketch import merge_sketch_payloads

        b = bloom_spec()
        return build_with_checkpoint(
            self.spark, self.data("ckpt"), self.ckpt, b._empty, b._update,
            merge_sketch_payloads, columns=["tokens"],
        )

    def op(self):
        return self.build()

    def check(self, rep) -> list[str]:
        ref = self.man["ckpt"]["ref"]
        n_cut = len(ref["cut_files"])
        bad = []
        if rep.n_items != self.tokens:
            bad.append(f"n_items {rep.n_items} != {self.tokens}")
        if rep.payload != self.probe_filter_payload():
            bad.append("payload differs from the driver-side build")
        if rep.payload != self.cold.payload:
            bad.append("resumed payload differs from the cold build")
        if (rep.built_files, rep.resumed_files) != (n_cut, rep.total_files - n_cut):
            bad.append(f"built {rep.built_files} / resumed {rep.resumed_files}, cut {n_cut}")
        return bad

    def output_bytes(self, rep) -> int:
        return len(rep.payload) + dir_bytes(self.ckpt)

    def bloom_fpr(self, rep) -> float:
        return absent_fpr(rep.payload, self.seed)

    def checkpoint_layers(self, rep, tracer) -> dict:
        """Counters of the op just run (the directory still holds its
        output), then resumes with every file already checkpointed:
        list, anti-join, read and merge only."""
        m = {
            "operators.checkpoint.built_files": rep.built_files,
            "operators.checkpoint.resumed_files": rep.resumed_files,
            "operators.checkpoint.bytes_written": dir_bytes(self.ckpt) - self.ckpt_bytes_before,
            "operators.checkpoint.bytes_read": self.ckpt_bytes_before,
        }
        times = []
        for _ in range(LAYER_REPS):
            with tracer.span("operators.checkpoint.merge_only", "layers") as sp:
                again = self.build()
            if again.built_files or again.payload != self.cold.payload:
                raise RuntimeError("merge-only resume rebuilt files or changed the payload")
            times.append(sp.duration)
        m["operators.checkpoint.merge_only_s"] = float(np.median(times))
        return m


WORKLOADS = {w.name: w for w in (GlobalBuild, Probe, KeyedSkew, CheckpointResume)}
