"""Size-dispatch guard for dual-form (exact vs scale) registry queries.

Three registered queries serve TWO forms: an exact, oracle-pinned form
below a row threshold and a scale-safe approximation above it
(layout_zorder_key / layout_hilbert_key above LAYOUT_EXACT_MAX_ROWS,
profile_quantile_drift above DRIFT_EXACT_MAX_ROWS).  Their DuckDB
oracles pin the EXACT form only, so a verification run over a dataset
above the threshold would mismatch BY DESIGN -- a harness-configuration
error, not an engine bug.

``serve_exact`` centralizes the dispatch decision so that:

  * every dispatch logs which form it serves (stderr, one line), and
  * under ``SPARK_GRAFT_ORACLE_VERIFY=1`` -- exported by the oracle
    harnesses (tests/drive_verify.py, tools/classify10x.py,
    tests/test_registry_oracle.py) -- crossing the threshold RAISES
    instead of silently serving the unpinned form, so a future >2M-row
    sweep fails loudly at the dispatch site (r10 ADVICE, layout.py:118).
"""

from __future__ import annotations

import os
import sys

VERIFY_ENV = "SPARK_GRAFT_ORACLE_VERIFY"


def verify_mode() -> bool:
    """True under the oracle-verify harness env (``VERIFY_ENV`` set to
    anything but empty or ``0``)."""
    return os.environ.get(VERIFY_ENV) not in (None, "", "0")


def serve_exact(name: str, n_rows: int, threshold: int) -> bool:
    """True -> serve the exact (oracle-pinned) form; False -> the
    scale form.  Raises under the oracle-verify harness env when the
    dataset is above the threshold (the oracle cannot pin the scale
    form, so verifying it would mismatch by design)."""
    exact = n_rows <= threshold
    print(
        f"[size-dispatch] {name}: serving the "
        f"{'exact' if exact else 'scale'} form "
        f"({n_rows:,} rows vs threshold {threshold:,})",
        file=sys.stderr,
    )
    if not exact and verify_mode():
        raise RuntimeError(
            f"{name}: dataset has {n_rows:,} rows, above the exact-form "
            f"dispatch threshold ({threshold:,}), but {VERIFY_ENV} is set "
            "-- the oracle pins only the exact form, so this verification "
            "run is misconfigured (use a dataset below the threshold or "
            "verify the *_scale form's own laws instead)"
        )
    return exact
