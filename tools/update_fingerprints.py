"""Record entry changes in the gate ledger (tests/registry_fingerprints.json).

A plain run recomputes every entry's fingerprint. A drifted or new
entry is recorded at its current fingerprint as pending (round
``null``), which moves it to the front of ``__spark_entry__.queries()``
and so into the next driver gate; an entry that is no longer
registered is dropped. The run ends by printing every pending name,
ready to pass to ``tools/check_oracle.py``. Run it after any change
under ``cdc_spark/``: the contract test fails on an unrecorded change.

Turning a round: once round R's driver gate has run on the committed
tree, ``--rotate R`` stamps that gate's 50 entries (the current first
50 of ``queries()``) with round R at their current fingerprints, so
the next order leads with whatever is still pending, then the entries
whose last gate is oldest.

Usage:
    python tools/update_fingerprints.py              # record changes
    python tools/update_fingerprints.py --rotate 15  # round 15 was gated
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--rotate",
        type=int,
        metavar="R",
        help="stamp the current first 50 entries as gated in round R",
    )
    args = ap.parse_args()

    from cdc_spark.queries import REGISTRY
    from cdc_spark.queries.fingerprint import (
        LEDGER,
        all_fingerprints,
        gate_order,
        load_ledger,
        refresh,
        rotate,
        stale,
        write_ledger,
    )

    oracled = {n for n, s in REGISTRY.items() if s.oracle is not None}
    current = all_fingerprints()
    ledger = load_ledger()
    if args.rotate is not None:
        ledger = rotate(ledger, current, oracled, args.rotate)
        print(f"stamped the first 50 entries with round {args.rotate}")

    changed = stale(ledger, current)
    for n in changed:
        if n not in current:
            print(f"drop: {n}")
        else:
            print(f"{'new' if n not in ledger else 'refresh'}: {n}")
    dropped = sum(n not in current for n in changed)
    ledger = refresh(ledger, current)
    write_ledger(ledger)
    print(f"{len(changed) - dropped} refreshed, {dropped} dropped -> {LEDGER}")

    order = gate_order(ledger, ledger, oracled)
    pending = [n for n in order if ledger[n][1] is None]
    print(f"{len(pending)} pending:")
    print(" ".join(pending))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
