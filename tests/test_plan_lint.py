"""Plan lint as a suite gate (round-7): the optimized-plan sweep in
tools/plan_lint.py, promoted into pytest so its zero-flags invariant
is enforced on EVERY run instead of only when the tool is remembered.
Round 6 found two latent O(words²)-per-doc lambda inlines
(boilerplate_ngrams, ngram_jaccard_pairs) only because the tool was
written and run late — this test makes the next instance a red bar.

Checks per registered query at sf0.001, through the tool's own
per-query finding path (``plan_findings``), so the test and the tool
cannot disagree:
- heavy-expr-in-lambda (the CollapseProject re-eval trap — a
  split/md5/sha/regexp/from_json subtree inlined INSIDE a
  lambdafunction body re-evaluates once per array element),
- CartesianProduct (an unbroadcast cross join),
- BatchEvalPython (a row-at-a-time Python scan),
- estimate-blind-broadcast (physical plan: more BroadcastExchanges
  over an explode or checkpoint scan than explicit broadcast hints).

The allowlist is asserted EXACTLY: every allowlisted finding must
actually be present, so a fixed query can't leave a stale mask behind
that would hide a future regression under the same name.
"""

from __future__ import annotations

import os
import sys

from conftest import SF_SMOKE

from stock_prediction_data_engineering_spark import registry

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools")
)
from plan_lint import ALLOWLIST, allowlist_entry, lint_plan, plan_findings  # noqa: E402


def test_all_registered_plans_are_lint_clean(spark):
    registry.load_all()
    flagged: dict[str, list[str]] = {}
    seen_allowlisted: set[tuple[str, str]] = set()
    errors: dict[str, str] = {}
    for name, fn in sorted(registry.QUERIES.items()):
        try:
            finds, _ = plan_findings(fn(spark, SF_SMOKE))
        except Exception as exc:  # noqa: BLE001 — a broken build is its
            # own failure; report it here rather than aborting the sweep
            errors[name] = f"{type(exc).__name__}: {exc}"[:200]
            continue
        for find in finds:
            key = allowlist_entry(name, find)
            if key is not None:
                seen_allowlisted.add(key)
            else:
                flagged.setdefault(name, []).append(find)
    assert not errors, f"queries failed to build a plan: {errors}"
    assert not flagged, f"plan-lint flags (new anti-patterns): {flagged}"
    # exact-allowlist discipline: a stale entry is a latent mask
    assert seen_allowlisted == ALLOWLIST, (
        "stale plan-lint allowlist entries (finding no longer present; "
        f"remove them): {ALLOWLIST - seen_allowlisted}"
    )


def test_lambda_body_scoping():
    """The lint scopes heavy expressions to the lambda BODY: an
    expression after the lambda's closing paren on the same rendered
    line (optimized plans print whole Project nodes on one line) must
    not flag, and one inside must."""
    inside = "Project [transform(x, lambdafunction(split(y, ' '), y)) AS a]"
    after = "Project [transform(x, lambdafunction(y + 1, y)), split(z, ' ') AS b]"
    nested = (
        "Project [transform(x, lambdafunction(transform(y, "
        "lambdafunction(md5(z), z)), y)) AS a]"
    )
    assert lint_plan(inside) == ["heavy-expr-in-lambda:split"]
    assert lint_plan(after) == []
    assert lint_plan(nested) == ["heavy-expr-in-lambda:md5"]
