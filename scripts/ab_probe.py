#!/usr/bin/env python3
"""Interleaved same-session A/B: load the OLD (git-committed) variant of
a query module into a scratch module and alternate old/new timed noop
runs in ONE session, so host drift cancels (interleaved min-of-N).

Usage: python scripts/ab_probe.py <module> <query> [pairs] [rev]
  e.g. python scripts/ab_probe.py queries/text_analysis.py \
       text_langid_hashed_ngram 5
"""

from __future__ import annotations

import importlib.util
import os
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from etl_gcp_function_tmabrasil_spark.session import get_spark  # noqa: E402

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> int:
    relpath, qname = sys.argv[1], sys.argv[2]
    pairs = int(sys.argv[3]) if len(sys.argv) > 3 else 5
    rev = sys.argv[4] if len(sys.argv) > 4 else "HEAD"
    pkgpath = f"etl_gcp_function_tmabrasil_spark/{relpath}"
    src = subprocess.check_output(["git", "-C", REPO, "show", f"{rev}:{pkgpath}"])
    # a private file per run: two probes of one module at different
    # revisions must not load each other's old variant
    with tempfile.NamedTemporaryFile(suffix=".py") as f:
        f.write(src)
        f.flush()
        spec = importlib.util.spec_from_file_location("ab_old_variant", f.name)
        old_mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(old_mod)
    new_mod_name = "etl_gcp_function_tmabrasil_spark." + relpath.replace(
        "/", "."
    ).removesuffix(".py")
    new_mod = __import__(new_mod_name, fromlist=["_"])
    old_fn, new_fn = getattr(old_mod, qname), getattr(new_mod, qname)

    spark = get_spark(app_name="ab_probe")
    spark.range(1_000_000).selectExpr("sum(id) s").write.format("noop").mode(
        "overwrite"
    ).save()
    res = {"old": [], "new": []}
    # one untimed warmup each
    for fn in (old_fn, new_fn):
        spark.catalog.clearCache()
        fn(spark, SF).write.format("noop").mode("overwrite").save()
    for _ in range(pairs):
        for tag, fn in (("old", old_fn), ("new", new_fn)):
            spark.catalog.clearCache()
            df = fn(spark, SF)
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            res[tag].append(time.perf_counter() - t0)
    for tag in ("old", "new"):
        s = sorted(res[tag])
        print(
            f"{qname} {tag}: min={s[0]:.3f} med={s[len(s)//2]:.3f} "
            f"all={[round(x, 3) for x in s]}",
            flush=True,
        )
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
