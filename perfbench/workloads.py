"""The benchmark workloads.

Each workload is a closed loop with one client: the next operation
starts only after the previous one has finished and been checked.
``prepare`` makes the inputs from the seed (part of set-up), ``warmup``
runs the code paths once, and ``ops`` yields operations forever. An
operation is ``build`` (Python-side plan construction, including any
eager work the program does while building) followed by ``run``
(execution and collection of the result). ``check`` verifies one
result outside the timers.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Any, Callable

import numpy as np
import pandas as pd

import datagen


@dataclass
class Op:
    label: str
    build: Callable[[Any], Any]            # spark -> DataFrame
    run: Callable[[Any], Any]              # DataFrame -> result


class _Collected:
    """Hands an already-collected result to ``testing.oracle.compare``."""

    def __init__(self, pdf: pd.DataFrame):
        self._pdf = pdf

    def toPandas(self) -> pd.DataFrame:
        return self._pdf


def release(spark) -> None:
    """Between-operation hygiene (as ``bench.py`` does): drop persisted
    RDDs and cached tables so no state carries into the next op."""
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist(False)
    spark.catalog.clearCache()


class Workload:
    name = ""
    # ops per pass; a run stops only at the end of a whole pass
    pass_len = 1
    # ops in the warm-up
    warmup_ops = 1

    def __init__(self, seed: int, work_dir: str):
        self.seed = seed
        self.work = work_dir

    def prepare(self, spark) -> None:
        raise NotImplementedError

    def warmup(self, spark) -> None:
        """Run every code path the timed loop takes: the first
        ``warmup_ops`` ops of ``ops()``."""
        ops = self.ops()
        for _ in range(self.warmup_ops):
            op = next(ops)
            op.run(op.build(spark))
            release(spark)

    def ops(self):
        raise NotImplementedError

    def check(self, spark, op: Op, result) -> bool:
        raise NotImplementedError

    def summary(self) -> dict:
        return {}

    def close(self) -> None:
        pass


# ----------------------------------------------------------------------
# Query workloads
# ----------------------------------------------------------------------

# A whole pass of every registry query in suite/relational*.py and
# suite/science.py (50 queries) takes ~35 s warm on 4 cores: far more
# than one run can hold. The workload therefore runs a fixed cohort
# drawn from that set, one query per family (scan + aggregate, star
# join, outer join + nested aggregate, window, science), in this fixed
# order; the seed sets the data. (A seeded order moved each query's
# time by up to 2x with its distance from JVM start, and the run's p50
# by 25%.)
CATALOG_COHORT = [
    "q01_pricing_summary",
    "q05_local_supplier_volume",
    "q13_order_distribution",
    "q_window_battery",
    "lut_interp",
]


class CatalogQueries(Workload):
    name = "catalog_queries"
    pass_len = len(CATALOG_COHORT)
    # whole passes, so the timed passes run on compiled code paths.
    # Leaving out the JIT compiler threads, a cold pass costs ~2.5x the
    # CPU of a warm one and the second ~1.1x; from the third on the
    # passes cost alike.
    warmup_ops = 2 * pass_len

    def __init__(self, seed, work_dir):
        super().__init__(seed, work_dir)
        self.data = os.path.join(work_dir, "tables")
        self._con = None

    def prepare(self, spark) -> None:
        datagen.write_tables(self.seed, self.data)

    def _registry(self):
        from xsarsea_spark.suite import REGISTRY

        return REGISTRY

    def _op(self, name: str) -> Op:
        spec = self._registry()[name]
        return Op(name, lambda spark: spec.spark(spark, self.data),
                  lambda df: df.toPandas())

    def ops(self):
        while True:
            for name in CATALOG_COHORT:
                yield self._op(name)

    def check(self, spark, op: Op, result) -> bool:
        from xsarsea_spark.testing.oracle import compare, oracle_connection

        spec = self._registry()[op.label]
        if spec.oracle is None:
            return len(result) > 0
        if self._con is None:
            self._con = oracle_connection(self.data)
        res = compare(_Collected(result), spec.oracle, self.data,
                      name=op.label, con=self._con)
        if not res.ok:
            print(f"perfbench: {op.label} MISMATCH: {res.detail}",
                  flush=True)
        return res.ok

    def close(self) -> None:
        if self._con is not None:
            self._con.close()
            self._con = None


# ----------------------------------------------------------------------
# Scene workload
# ----------------------------------------------------------------------

# Scenes are stored as this many parquet files (line blocks), so the
# scan yields that many partitions whatever the core count.
SCENE_FILES = 8


def _write_scene(pdf: pd.DataFrame, path: str) -> None:
    os.makedirs(path, exist_ok=True)
    bounds = np.linspace(0, len(pdf), SCENE_FILES + 1).astype(int)
    for i in range(SCENE_FILES):
        pdf.iloc[bounds[i]:bounds[i + 1]].to_parquet(
            os.path.join(path, f"part-{i:02d}.parquet"), index=False)


WIND_SHAPE = (128, 256)
WIND_SAMPLE = 512          # pixels checked against the exhaustive search
WIND_MAX_ERR = 1.5         # m/s, median |speed - planted| (~0.5 measured)
_WIND_KW = dict(co_model="gmf_cmod5n", cr_model="gmf_rs2_v2",
                sigma0_co_col="sigma0", sigma0_cr_col="sigma0_cr",
                dsig_cr_col="dsig_cr", anc_re_col="anc_re",
                anc_im_col="anc_im", keep_cols=["line", "sample"])
_WIND_OUT = ["wind_co_re", "wind_co_im", "wind_dual_re", "wind_dual_im"]


class WindScene(Workload):
    """Per-pixel dual-pol inversion of a forward-modelled scene."""

    name = "wind_scene"
    # the JVM's CPU per op, JIT included, falls from ~6 s (first op) to
    # ~2 s (second) and on to ~1 s over the next few
    warmup_ops = 4

    def prepare(self, spark) -> None:
        scene = datagen.wind_scene(self.seed, *WIND_SHAPE)
        self.truth = pd.DataFrame(scene)
        self.path = os.path.join(self.work, "wind_scene")
        _write_scene(self.truth.drop(columns=["true_wspd", "true_phi"]),
                     self.path)
        n = len(self.truth)
        self.sample = np.sort(np.random.default_rng(self.seed).choice(
            n, WIND_SAMPLE, replace=False))
        self._ref = None
        self.err = []

    def _invert(self, px, **kw):
        from xsarsea_spark.operators.inversion import invert_from_model

        return invert_from_model(px, **_WIND_KW, **kw)

    def _op(self) -> Op:
        return Op("invert",
                  lambda spark: self._invert(spark.read.parquet(self.path)),
                  lambda df: df.toPandas())

    def ops(self):
        while True:
            yield self._op()

    def _reference(self, spark) -> pd.DataFrame:
        """The seeded pixel sample inverted with the exhaustive search."""
        if self._ref is None:
            px = self.truth.iloc[self.sample].drop(
                columns=["true_wspd", "true_phi"])
            ref = self._invert(spark.createDataFrame(px),
                               search="exhaustive").toPandas()
            self._ref = ref.sort_values(["line", "sample"]).reset_index(
                drop=True)
        return self._ref

    def check(self, spark, op: Op, result) -> bool:
        if (len(result) != len(self.truth)
                or not {"line", "sample", *_WIND_OUT} <= set(result.columns)):
            return False
        ref = self._reference(spark)
        got = result.sort_values(["line", "sample"]).reset_index(drop=True)
        got = got.iloc[self.sample].reset_index(drop=True)
        same = all(np.array_equal(got[c].to_numpy(), ref[c].to_numpy(),
                                  equal_nan=True) for c in _WIND_OUT)
        # the planted wind also catches a change shared by both searches
        # (LUTs, the crosspol term, the dB conversion)
        wspd = np.hypot(got["wind_dual_re"], got["wind_dual_im"])
        err = float(np.nanmedian(
            np.abs(wspd - self.truth["true_wspd"].to_numpy()[self.sample])))
        self.err.append(err)
        return same and err <= WIND_MAX_ERR

    def summary(self) -> dict:
        return {"wind_median_abs_err_m_s": float(np.median(self.err))
                if self.err else None}


WORKLOADS = {w.name: w for w in (WindScene, CatalogQueries)}
