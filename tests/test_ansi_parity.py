"""ANSI-parity regression net — the hole round 13 fell into.

The correctness driver runs Spark 4's default `spark.sql.ansi.enabled=
true`; until r14 the repo session pinned it false, so every local
verification layer (pytest, check_oracle, bench) exercised laxer
cast/overflow/division semantics than the gate that actually grades
the round. r13's two frontier gates crashed with CAST_INVALID_INPUT in
the driver while passing everywhere locally.

Two nets:
1. pin the session default itself — get_spark must build ANSI-on so
   the WHOLE pytest suite and check_oracle sweep inherit driver
   semantics (a future flip back to false fails here, loudly);
2. full-collect (not count() — column pruning hid the r13 bug from
   count()) every gate staged in the current round under a session
   whose ANSI flag is FORCED on for the duration, independent of the
   default, so new gates cannot ship ANSI-unclean even if net 1 is
   ever relaxed.

Round authors: extend NEWEST_STAGED with each new round's staged dict.
"""

import pytest

from spdb_spark.suite_crawl import STAGED_R13, STAGED_R14

NEWEST_STAGED: dict = {}
NEWEST_STAGED.update(STAGED_R13)
NEWEST_STAGED.update(STAGED_R14)


def test_session_default_is_ansi_on(spark):
    """The repo factory must match the driver's session semantics."""
    assert spark.conf.get("spark.sql.ansi.enabled") == "true"


@pytest.mark.parametrize("name", sorted(NEWEST_STAGED))
def test_new_gate_full_collect_ansi(gate_frame, name):
    fn, _sql = NEWEST_STAGED[name]
    pdf = gate_frame(name, fn)  # full collect, every column, ANSI forced on
    assert len(pdf) >= 0
