"""Run the reference's own query test tables VERBATIM.

tests/golden/ref_method_cases.json is extracted from the Go test
tables in internal/bloblang/query/methods_test.go (TestMethods) and
functions_test.go (TestFunctions) by tools/extract_ref_method_tests.py
— each case's Function-constructor AST re-rendered as Bloblang source
and replayed through the engine's parser/compiler (columnar fast path
+ dynamic-document fallback).  Value assertions mirror assert.Equal;
err-cases pass when the engine errors (message-text parity is out of
scope).  All cases must pass — there is no skip list.
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
                       "ref_method_cases.json")


def test_reference_method_tables(spark):
    sys.path.insert(0, REPO)
    from tools.run_ref_method_tests import run_method_case

    cases = json.load(open(VECTORS))
    assert len(cases) >= 220  # extraction regression guard

    def one(case):
        try:
            ok, got, err = run_method_case(spark, case)
        except Exception as e:  # noqa: BLE001
            ok, got, err = False, None, f"{type(e).__name__}: {e}"
        return case, ok, got, err

    with ThreadPoolExecutor(max_workers=8) as pool:
        results = list(pool.map(one, cases))
    fails = [
        f"{c['name']} ({c['file']}:{c['line']}): expr={c['expr'][:80]!r}"
        f" want={json.dumps(c.get('output'), default=str)[:80]}"
        f" got={err if err else json.dumps(got, default=str)[:120]}"
        for c, ok, got, err in results if not ok]
    assert not fails, "\n".join(fails)
