from __future__ import annotations

import os

import pytest

SF_SMOKE = "/root/testdata/sf0.001"
# Default sf0.001 keeps the suite fast, but the DRIVER compares at
# sf0.01 — sf0.001 parity does not imply sf0.01 parity (a range-frame
# second-truncation bug passed here and failed the driver scale once).
# Before committing query changes, run the full contract drive at
# sf0.01 (.claude/skills/verify/SKILL.md), or re-run this suite with
# SPARK_GRAFT_TEST_SF_DIR=/root/testdata/sf0.01.
SF_CORRECTNESS = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from etl_gcp_function_tmabrasil_spark.session import get_spark

    s = get_spark(app_name="tests", master="local[4]", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_CORRECTNESS


@pytest.fixture(scope="session")
def ann_corpus(tmp_path_factory):
    """corpus(name) -> the directory of an embeddings corpus: "sf0.001",
    "iid" (sf0.1), or "planted" / "tight", written once per session."""
    from tests import ann_corpora as c

    dirs = {"sf0.001": SF_SMOKE, "iid": c.IID}
    builders = {"planted": c.build_clustered, "tight": c.build_tight}

    def corpus(name: str) -> str:
        if name not in dirs:
            dirs[name] = str(tmp_path_factory.mktemp(name))
            builders[name](dirs[name])
        return dirs[name]

    return corpus
