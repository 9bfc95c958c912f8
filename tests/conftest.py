"""Shared Spark fixtures. One session for the whole run (local[cores] with
cores from session.DEFAULT_CPUS — SPARK_GRAFT_CPUS, else the host's CPUs —
and 8 shuffle partitions) — Spark startup is ~10 s, tests share it."""

from __future__ import annotations

import shutil

import pytest

from character_identification_spark.session import DEFAULT_CPUS, get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="ci_spark_tests",
        cores=DEFAULT_CPUS,
        shuffle_partitions=8,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def small_corpus(spark):
    """(pages, gold) — 80 pages / 8 entities / 6 blocks, deterministic."""
    from character_identification_spark.fixtures.pages_gen import generate_corpus

    pages, gold = generate_corpus(spark, n_pages=80, n_entities=8, n_blocks=6)
    pages = pages.cache()
    gold = gold.cache()
    pages.count(), gold.count()
    return pages, gold


@pytest.fixture()
def tmp_workdir(tmp_path):
    d = str(tmp_path / "stages")
    yield d
    shutil.rmtree(d, ignore_errors=True)
