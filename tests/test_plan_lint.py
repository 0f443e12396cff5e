"""The standing plan-lint gate (r16, VERDICT r15 ask #1).

tools/plan_lint.py mechanizes the round-15 multi-scan audit rule: a
repeated scan is a defect ONLY when a row-expanding derivation
(explode/tokenize/shingle) re-executes against the same un-sliced
source. These tests pin the gate's sensitivity (it must FLAG the two
real r14 defects, preserved as fixtures) and its current verdict
(the published PLANS.md and the three re-planned text keys lint
clean). The all-243-key build-and-lint runs first in the sweep matrix
(`tools/sweep.py --matrix rNN` -> bench/PLANLINT_rNN.json), not here.
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))

from plan_lint import ALLOWLIST, lint_plan, lint_plans_md  # noqa: E402

FIXTURES = os.path.join(REPO, "tests", "fixtures")


def _fixture_plan(key: str) -> str:
    txt = open(os.path.join(FIXTURES, f"r14_plan_{key}.md")).read()
    return re.search(r"```\n(.*?)```", txt, re.S).group(1)


def test_lint_flags_r14_tfidf_double_tokenize():
    """The r14 tfidf plan fed the exploded token table into two
    aggregations that could not share an exchange — two full
    scan+explode passes. The lint must flag exactly that: one
    signature (same generator, same unfiltered documents scan) with
    two distinct Generate node ids."""
    flags = lint_plan(_fixture_plan("tfidf_keywords"))
    assert len(flags) == 1, flags
    assert flags[0]["n"] == 2
    assert "explode(split(text#" in flags[0]["generator"]
    assert any("documents.parquet" in s for s in flags[0]["scans"])


def test_lint_flags_r14_bm25_quadruple_tokenize():
    """The r14 bm25 plan re-executed the exploded-token subtree up to
    four times (dl, tf, and their downstream stats aggs). At least
    one duplicate-signature group must flag."""
    flags = lint_plan(_fixture_plan("text_bm25_rank"))
    assert flags, "r14 bm25 plan must flag"
    assert all(f["n"] >= 2 for f in flags)


def test_published_plans_lint_clean():
    """Every plan published in PLANS.md (headline + extras + captured
    pre-checkpoint plans) passes the gate — non-allowlisted flags
    fail this test, which also keeps PLANS.md regeneration honest
    after plan-shaping changes. Cached-lineage reprints and nested
    AQE '== Initial Plan ==' sections must NOT produce false flags
    (curate_pipeline's loop-body capture exercises both)."""
    flagged = lint_plans_md(os.path.join(REPO, "PLANS.md"))
    bad = {k: v for k, v in flagged.items() if k not in ALLOWLIST}
    assert not bad, {k: [f["generator"][:80] for f in v]
                     for k, v in bad.items()}


def test_replanned_text_keys_lint_clean_live(spark, sf_dir):
    """The re-planned keys (tfidf r15, bm25 r15; substring-dedup and
    ts_changepoint r16 — the two THIS gate caught, on the published
    sf0.1 plan and the full-registry build respectively) must lint
    clean on live executed plans, not just the published ones."""
    from lakehouse_automation_spark.operators.cache import (
        release_persisted)
    from lakehouse_automation_spark.queries import REGISTRY

    release_persisted()
    try:
        for key in ("tfidf_keywords", "text_bm25_rank",
                    "text_substring_dedup", "ts_changepoint"):
            df = REGISTRY[key].fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode
                .fromString("formatted"))
            assert not lint_plan(plan), key
    finally:
        release_persisted()
