"""Round-15 operator tests: brute-force definitional recomputes in
plain Python against the registered Spark implementations."""

from __future__ import annotations

import hashlib
import math
import re
from collections import Counter, defaultdict

import pytest

SF_SMOKE = "/root/testdata/sf0.001"
SF_SMALL = "/root/testdata/sf0.01"


def _hash60(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _langid_confusion_python(rows):
    """Literal recompute of text_langid_hashed_ngram's definition:
    NB log-likelihood weights over hashed char-3-grams, 8-dp
    fixed-point, argmax with (score desc, lang asc) ties."""
    from etl_gcp_function_tmabrasil_spark.queries.text_analysis import (
        LANGID_B,
        LANGID_GRAM,
        LANGID_HOLDOUT,
    )

    def grams(text):
        t = re.sub(r"[ \t\n\r\f\x0B]+", " ", text.strip()).lower()
        return [
            t[i : i + LANGID_GRAM]
            for i in range(len(t) - LANGID_GRAM + 1)
        ]

    cnt: dict[tuple[str, int], int] = Counter()
    tot: dict[str, int] = Counter()
    nd: dict[str, int] = Counter()
    for doc_id, lang, text in rows:
        if doc_id % LANGID_HOLDOUT == 0:
            continue
        nd[lang] += 1
        for g in grams(text):
            b = _hash60(g) % LANGID_B
            cnt[(lang, b)] += 1
            tot[lang] += 1
    ndt = sum(nd.values())
    w = {
        (lang, b): round(
            math.log((cnt.get((lang, b), 0) + 1) / (tot[lang] + LANGID_B)),
            8,
        )
        for lang in tot
        for b in range(LANGID_B)
    }
    prior = {lang: round(math.log(nd[lang] / ndt), 8) for lang in nd}
    confusion: dict[tuple[str, str], int] = Counter()
    for doc_id, lang, text in rows:
        if doc_id % LANGID_HOLDOUT != 0:
            continue
        tf = Counter(_hash60(g) % LANGID_B for g in grams(text))
        # exact decimal: every term is an 8-dp fixed-point value, so
        # integer arithmetic over round(x*1e8) reproduces both engines
        scores = {
            lang2: sum(
                n * round(w[(lang2, b)] * 10**8) for b, n in tf.items()
            )
            + round(prior[lang2] * 10**8)
            for lang2 in tot
        }
        pred = min(scores, key=lambda k: (-scores[k], k))
        confusion[(lang, pred)] += 1
    return dict(confusion)


@pytest.mark.parametrize("sf_dir", [SF_SMOKE, SF_SMALL])
def test_langid_hashed_ngram_brute_force(spark, sf_dir):
    from etl_gcp_function_tmabrasil_spark.queries.text_analysis import (
        text_langid_hashed_ngram,
    )

    rows = [
        (r.doc_id, r.lang, r.text)
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "lang", "text")
        .collect()
    ]
    want = _langid_confusion_python(rows)
    got = {
        (r.true_lang, r.pred_lang): r.n_docs
        for r in text_langid_hashed_ngram(spark, sf_dir).collect()
    }
    assert got == want


# --- snapshot commit-time CHECK constraints (round 15) -------------------------


def test_constraints_fail_aborts_commit(spark, tmp_path):
    from pyspark.sql import functions as F

    from etl_gcp_function_tmabrasil_spark.sinks.snapshot import (
        ConstraintViolation,
        _load_manifest,
        _manifests,
        clone_snapshot,
        commit_snapshot,
        drop_constraint,
        read_snapshot,
        restore_snapshot,
        set_constraints,
    )

    t = str(tmp_path / "tbl")
    base = spark.range(0, 20).select("id", (F.col("id") * 2).alias("v"))
    commit_snapshot(base, t)
    v = set_constraints(spark, t, {"v_nonneg": "v >= 0"})
    assert _load_manifest(t, v)["constraints"] == {
        "v_nonneg": {"expr": "v >= 0", "action": "fail"}
    }
    bad = spark.createDataFrame([(100, -1), (101, 5)], "id long, v long")
    with pytest.raises(ConstraintViolation, match="v_nonneg=1"):
        commit_snapshot(bad, t)
    # nothing committed, table bit-unchanged
    assert _manifests(t)[-1] == v
    assert read_snapshot(spark, t).count() == 20
    # NULL satisfies (ANSI CHECK): a NULL-v row commits fine
    ok = spark.createDataFrame([(102, None)], "id long, v long")
    v2 = commit_snapshot(ok, t)
    assert read_snapshot(spark, t).count() == 21
    # constraints carry forward through commits
    assert _load_manifest(t, v2)["constraints"]["v_nonneg"]
    # ... come back with a restore, and into a clone
    restore_snapshot(t, v)
    with pytest.raises(ConstraintViolation, match="v_nonneg=1"):
        commit_snapshot(bad, t)
    clone = str(tmp_path / "clone")
    clone_snapshot(t, clone, version=v)
    with pytest.raises(ConstraintViolation, match="v_nonneg=1"):
        commit_snapshot(bad, clone)
    assert read_snapshot(spark, t).count() == 20
    # adding a fail constraint the EXISTING data violates is refused
    with pytest.raises(ConstraintViolation):
        set_constraints(spark, t, {"id_small": "id < 10"})
    # drop, then the violating append goes through
    drop_constraint(t, "v_nonneg")
    commit_snapshot(bad, t)
    assert read_snapshot(spark, t).count() == 22


def test_constraints_quarantine_routes_rows(spark, tmp_path):
    from pyspark.sql import functions as F

    from etl_gcp_function_tmabrasil_spark.sinks.snapshot import (
        _load_manifest,
        _manifests,
        commit_snapshot,
        merge_snapshot,
        read_quarantine,
        read_snapshot,
        set_constraints,
    )

    t = str(tmp_path / "tbl")
    commit_snapshot(
        spark.range(0, 10).select("id", (F.col("id") * 2).alias("v")), t
    )
    set_constraints(
        spark,
        t,
        {
            "v_cap": {"expr": "v < 1000", "action": "quarantine"},
            "id_pos": {"expr": "id >= 0", "action": "quarantine"},
        },
    )
    batch = spark.createDataFrame(
        [(50, 1), (51, 5000), (-1, 2), (-2, 9000)], "id long, v long"
    )
    commit_snapshot(batch, t)
    # clean row committed; 3 violating rows diverted
    got = {r.id for r in read_snapshot(spark, t).collect()}
    assert 50 in got and 51 not in got and -1 not in got
    man = _load_manifest(t, _manifests(t)[-1])
    assert man["quality"] == {"v_cap": 2, "id_pos": 2}
    q = read_quarantine(spark, t).collect()
    assert len(q) == 3
    tags = {r.id: sorted(r._violations) for r in q}
    assert tags == {
        51: ["v_cap"],
        -1: ["id_pos"],
        -2: ["id_pos", "v_cap"],
    }
    # merge_snapshot enforces too: quarantined source rows don't merge
    src = spark.createDataFrame(
        [(50, 7), (60, 8), (61, 7777)], "id long, v long"
    )
    info = merge_snapshot(spark, t, src, "id")
    assert info["rows_updated"] == 1 and info["rows_inserted"] == 1
    got = {r.id: r.v for r in read_snapshot(spark, t).collect()}
    assert got[50] == 7 and got[60] == 8 and 61 not in got
    assert len(read_quarantine(spark, t).collect()) == 4


def test_constraints_replace_where_enforces(spark, tmp_path):
    from pyspark.sql import functions as F

    from etl_gcp_function_tmabrasil_spark.sinks.snapshot import (
        ConstraintViolation,
        commit_snapshot,
        replace_where,
        set_constraints,
    )

    t = str(tmp_path / "tbl")
    commit_snapshot(
        spark.range(0, 10).select("id", (F.col("id") * 2).alias("v")), t
    )
    set_constraints(spark, t, {"v_nonneg": "v >= 0"})
    with pytest.raises(ConstraintViolation):
        replace_where(
            spark,
            spark.createDataFrame([(3, -5)], "id long, v long"),
            t,
            "id = 3",
        )


def test_banded_weighted_median_brute_force(spark, sf_dir):
    """banded_weighted_median must equal the literal definition: the
    smallest value whose cumulative weight (value peers pooled, exact
    decimal arithmetic) doubles to at least the group total — across
    band boundaries, tied values, and an adversarial band width that
    splits the data into many tiny bands."""
    from decimal import Decimal

    from etl_gcp_function_tmabrasil_spark.catalog import load_table
    from etl_gcp_function_tmabrasil_spark.operators.quantiles import (
        banded_weighted_median,
    )
    from pyspark.sql import functions as F

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.col("l_extendedprice").alias("price"),
        F.col("l_quantity").alias("w"),
    )
    rows = li.collect()  # bounded: sf0.001 fixture
    by_g: dict[str, list] = {}
    for r in rows:
        by_g.setdefault(r.l_returnflag, []).append(
            (r.price, Decimal(str(r.w)).quantize(Decimal("0.01")))
        )
    expected = {}
    for g, vals in by_g.items():
        vals.sort(key=lambda t: t[0])
        total = sum(w for _, w in vals)
        cum = Decimal(0)
        med = None
        for v, w in vals:
            cum += w
            if med is None and 2 * cum >= total:
                med = v
        expected[g] = (float(med), float(total))
    for bw in (1000.0, 7.3):  # default and adversarial many-band split
        got = {
            r.l_returnflag: (r.weighted_median, r.total_weight)
            for r in banded_weighted_median(
                li, "l_returnflag", "price", "w", band_width=bw
            ).collect()
        }
        assert got == expected, f"band_width={bw}: {got} != {expected}"
