"""Golden-corpus parity gate: exact draft-4/6/7 suite verdict parity.

Mirrors the reference's own gate (/root/reference/jsonschema_test.go:121-190):
top-level fixture files + optional/format* for each draft, skipping groups
marked ``disabled``. Additionally runs optional/bignum.json and
optional/zeroTerminatedFloats.json (exact-rational semantics), which the
reference's TestSuite walk skips.
"""

from __future__ import annotations

import os

import pytest

from gojsonschema_spark.core.suite import (SUITE_ROOT, load_cases,
                                           reference_expected, run_case_group)

if not os.path.isdir(SUITE_ROOT):
    pytest.skip(f"JSON-Schema-Test-Suite not found at {SUITE_ROOT}",
                allow_module_level=True)


def _groups():
    out = []
    for draft, rel, schema, cases in load_cases():
        out.append(pytest.param(draft, rel, schema, cases,
                                id=f"{draft}/{rel}/{cases[0].group[:60]}"))
    return out


@pytest.mark.parametrize("draft,rel,schema,cases", _groups())
def test_suite_group(draft, rel, schema, cases):
    results = run_case_group(draft, schema, cases)
    mismatches = []
    for case, got in results:
        expected = reference_expected(draft, rel, case)
        if got != expected:
            mismatches.append(f"{case.case}: expected {expected}, got {got}")
    assert not mismatches, f"{draft}/{rel} [{cases[0].group}]:\n" + "\n".join(mismatches)
