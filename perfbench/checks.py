"""Output comparison with the rules of ``tools/check_oracles.py``: the
frames are normalized with its ``normalize`` (sorted columns and rows,
floats rounded to 9 places, integers widened), then float columns must
agree within rtol 1e-9 and every other column exactly."""

from __future__ import annotations


def frames_match(got, ref, normalize) -> tuple[bool, str]:
    import pandas as pd

    if len(got) != len(ref):
        return False, f"rows {len(got)} != reference {len(ref)}"
    if sorted(got.columns) != sorted(ref.columns):
        return False, f"columns {sorted(got.columns)} != {sorted(ref.columns)}"
    a, b = normalize(got), normalize(ref)
    floats = [c for c in a.columns if pd.api.types.is_float_dtype(a[c])]
    others = [c for c in a.columns if c not in floats]
    try:
        if floats:
            pd.testing.assert_frame_equal(
                a[floats], b[floats], check_dtype=False, check_exact=False,
                rtol=1e-9, atol=1e-12,
            )
        if others:
            pd.testing.assert_frame_equal(
                a[others], b[others], check_dtype=False, check_exact=True
            )
    except AssertionError as e:
        return False, f"value mismatch: {str(e)[:300]}"
    return True, ""
