"""Run the reference's interpolated-field test tables VERBATIM.

tests/golden/ref_field_cases.json holds TestFieldExpressions +
TestFieldStaticExpressionOptimization (field_parser_test.go) and
TestFieldDeprecatedFunctionExpressions
(field_deprecated_parser_test.go): `${!…}` templates — modern queries,
`${{!…}}` escapes, and the v3 colon-argument function forms — resolved
against real message batches and compared to the reference
Expression.String/StringLegacy/BytesEscaped output.
"""

from __future__ import annotations

import json
import os
import sys
from concurrent.futures import ThreadPoolExecutor

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Soak/parity tier: excluded from the default fast run the driver's
# verify budget can finish (pytest.ini); run with -m slow.
pytestmark = __import__('pytest').mark.slow

VECTORS = os.path.join(os.path.dirname(__file__), "golden",
                       "ref_field_cases.json")


def test_reference_field_tables(spark):
    sys.path.insert(0, REPO)
    from tools.run_ref_field_tests import run_field_case

    cases = json.load(open(VECTORS))
    assert len(cases) >= 50  # extraction regression guard

    def one(case):
        try:
            ok, got, err = run_field_case(spark, case)
        except Exception as e:  # noqa: BLE001
            ok, got, err = False, None, f"{type(e).__name__}: {e}"
        return case, ok, got, err

    with ThreadPoolExecutor(max_workers=8) as pool:
        results = list(pool.map(one, cases))
    fails = [
        f"{c['name']} ({c['file']}:{c['line']}): tmpl={c['input'][:60]!r}"
        f" want={c['output']!r} got={err if err else got!r}"
        for c, ok, got, err in results if not ok]
    assert not fails, "\n".join(fails)
