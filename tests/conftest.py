from __future__ import annotations

import contextlib
import io

import pytest

from saurav_nayak_recipe_etl_project_spark.registry import QUERIES
from saurav_nayak_recipe_etl_project_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(master="local[8]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


class RegistryPlans:
    """Each registered query's output dtypes and formatted physical
    plan, built once per session. The oracle test records every entry
    it builds, and the registry-wide sweeps (output types, cartesian
    products, Python UDFs) read those records, so an entry is built
    once rather than once per sweep: several entries do eager driver
    work while they build, and one sweep of all 289 builds costs
    minutes. The plan is taken before the query runs, because an
    executed adaptive plan prints its final form, not the planned one."""

    def __init__(self, spark, sf_dir):
        self._spark, self._sf_dir = spark, sf_dir
        self._built = {}

    def record(self, name, df):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        self._built[name] = (df.dtypes, buf.getvalue())

    def get(self, name):
        """(dtypes, plan) of `name`, building it on first use; an error
        raised while building is kept and raised again on each get."""
        if name not in self._built:
            try:
                self.record(name, QUERIES[name](self._spark, self._sf_dir))
            except Exception as e:
                self._built[name] = e
        rec = self._built[name]
        if isinstance(rec, Exception):
            raise rec
        return rec


@pytest.fixture(scope="session")
def registry_plans(spark, sf_dir):
    return RegistryPlans(spark, sf_dir)
