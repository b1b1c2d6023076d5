"""Golden gate over the reference's own documented Bloblang examples.

tests/golden/ref_bloblang_examples.json is extracted verbatim from the
NewExampleSpec(mapping, input, output) registrations in
internal/bloblang/query/*.go (tools/extract_ref_examples.py) — the
reference's own statement of what each method/function computes.  Every
case must pass except the pinned skip-list of documented deviations.
"""

from __future__ import annotations

import json
import os

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Soak/parity tier: excluded from the default fast run the driver's
# verify budget can finish (pytest.ini); run with -m slow.
pytestmark = __import__('pytest').mark.slow

VECTORS = os.path.join(os.path.dirname(__file__), "golden",
                       "ref_bloblang_examples.json")

# name#case-ordinal → why this engine deviates (each reason is also in
# COVERAGE.md; shrinking this list is progress, growing it needs a doc)
SKIP = {
    "count#1": "count() is a per-batch pinned-order ordinal; the "
               "reference counter is stateful across separate runs",
}


def _spec_cases():
    specs = json.load(open(VECTORS))
    seen: dict[str, int] = {}
    out = []
    for spec in specs:
        for i, (inp, want) in enumerate(spec["cases"]):
            base = f"{spec['name']}#{i}"
            # disambiguate same-name same-ordinal specs (a/b suffixes)
            n = seen.get(base, 0)
            seen[base] = n + 1
            tag = base if n == 0 else f"{base}{'abcdefg'[n]}"
            out.append(pytest.param(spec, inp, want, id=tag))
    return out


@pytest.mark.parametrize("spec,inp,want", _spec_cases())
def test_reference_example(spark, spec, inp, want, request):
    tag = request.node.callspec.id
    if tag in SKIP:
        pytest.skip(SKIP[tag])
    import sys
    sys.path.insert(0, REPO)
    from tools.run_ref_examples import run_case
    ok, got, err = run_case(spark, spec["mapping"], inp, want)
    assert ok, (f"{spec['file']}:{spec['line']} mapping "
                f"{spec['mapping']!r} on {inp!r}: "
                f"got {err if err else got!r}, want {want!r}")
