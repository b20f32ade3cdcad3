#!/usr/bin/env python
"""Per-query bench regression gate, codified (it was re-implemented
ad-hoc every round since r9).

Compares two local bench twins (``BENCH_LOCAL_r{N}.json`` /
``BENCH_LAST.json``) query-by-query over the standing gate the README
describes: a query REGRESSES if it is both >25% slower AND >0.3 s
slower (median-of-3 vs median-of-3 — the absolute floor keeps
sub-second jitter out, the ratio floor keeps slow-query noise out).
Also reports improvements over the mirrored gate, membership drift
(queries present in only one file), and the machine-window tell
(oracle totals moving together with Spark totals means the box, not
the code).

Rename handling (VERDICT-r13 item 4): a renamed query would otherwise
show as one drop + one add with NO timing comparison — a silent blind
spot. The gate now fails loudly whenever drops and adds coexist,
unless each rename is declared with ``--rename=old=new``; declared
pairs are timing-compared under the normal gate (the new name inherits
the old timing history). A declared rename that does not apply to the
files (old name absent, new name absent, or new name already in the
old file) fails loudly naming the bad declaration. Pure drops or pure
adds (membership shrink / growth) stay informational, as before.

Machine-calib screen (VERDICT-r14 item 2): both bench twins carry a
``machine_calib`` field (two fixed CPU-bound JVM jobs timed at session
start — an oracle-free machine-window tell). The gate reads it from
both files, annotates every regression flag with the old→new calib
ratio, and when calib itself moved more than CALIB_SUSPECT (20%) in
either direction the exit flips to WINDOW-SUSPECT (status 2): the
flags are printed, not suppressed, but the first screen — "did the box
move, or the code?" — is now automatic. Twins that predate the field
(e.g. BENCH_LOCAL_r14.json) degrade gracefully to the unannotated
gate.

Usage:  python scripts/bench_regress.py OLD.json NEW.json
                                        [--rename=old=new ...]
Exit status: 0 clean; 1 regression flags on a stable calib window, a
bad --rename declaration, or undeclared drop+add coexistence; 2
regression flags with calib moved >20% (window-suspect — re-run both
sides on the same box, alternating their order, before treating it as
a code regression).
"""

from __future__ import annotations

import json
import sys

ABS_FLOOR = 0.3  # seconds
REL_FLOOR = 1.25
CALIB_SUSPECT = 0.20  # |ratio - 1| beyond this = the box moved, not the code


def calib_shift(old: dict, new: dict) -> dict:
    """Read machine_calib from both twins; None-safe for pre-field files.

    Returns {"ratios": {job: new/old} | None, "suspect": bool,
    "missing": [which side lacks the field]}. Suspect means any job's
    ratio left the (1-CALIB_SUSPECT, 1+CALIB_SUSPECT) band — in EITHER
    direction; a faster box invalidates the comparison just as much.
    """
    oc, nc = old.get("machine_calib"), new.get("machine_calib")
    missing = [side for side, c in (("old", oc), ("new", nc)) if not c]
    if missing:
        return {"ratios": None, "suspect": False, "missing": missing}
    jobs = sorted(set(oc) & set(nc))
    ratios = {j: round(nc[j] / oc[j], 3) for j in jobs if oc[j] > 0}
    suspect = any(abs(r - 1.0) > CALIB_SUSPECT for r in ratios.values())
    return {"ratios": ratios, "suspect": suspect, "missing": []}


def compare(old: dict, new: dict, renames: dict[str, str]) -> dict:
    """Pure comparison; returns flags/improved/drops/adds/rename_pairs.

    ``renames`` maps old-name -> new-name; each declared pair is
    timing-compared like any stable-name query. Declarations that
    cannot apply are returned under ``bad_renames`` as
    (old, new, reason) and make the gate fail.
    """
    oq, nq = dict(old["queries"]), dict(new["queries"])
    # fold declared renames into the old map under the NEW name so the
    # ordinary loop compares them
    rename_pairs, bad_renames = [], []
    for o, n in renames.items():
        if o not in oq:
            bad_renames.append((o, n, f"old name {o!r} not in old file"))
        elif n not in nq:
            bad_renames.append((o, n, f"new name {n!r} not in new file"))
        elif n in oq:
            bad_renames.append((o, n, f"new name {n!r} already in old file"))
        else:
            oq[n] = oq.pop(o)
            rename_pairs.append((o, n))
    flags, improved = [], []
    for name, t_old in sorted(oq.items()):
        t_new = nq.get(name)
        if t_new is None:
            continue
        if t_new - t_old > ABS_FLOOR and t_new > t_old * REL_FLOOR:
            flags.append((name, t_old, t_new, round(t_new / t_old, 2)))
        elif t_old - t_new > ABS_FLOOR and t_old > t_new * REL_FLOOR:
            improved.append((name, t_old, t_new, round(t_new / t_old, 2)))
    only_old = sorted(set(oq) - set(nq))
    only_new = sorted(set(nq) - set(oq))
    return {
        "flags": flags,
        "improved": improved,
        "only_old": only_old,
        "only_new": only_new,
        "rename_pairs": rename_pairs,
        "bad_renames": bad_renames,
        # drops and adds coexisting = a possible undeclared rename
        "suspected_renames": bool(only_old) and bool(only_new),
    }


def main(argv: list[str]) -> int:
    paths = [a for a in argv if not a.startswith("--")]
    renames: dict[str, str] = {}
    for a in argv:
        if a.startswith("--rename"):
            if not a.startswith("--rename="):
                raise SystemExit("use --rename=old=new (one token, two '=')")
            spec = a.split("=", 1)[1]
            if "=" not in spec:
                raise SystemExit(
                    f"--rename={spec!r} has no old=new pair — "
                    "use --rename=old=new"
                )
            o, n = spec.split("=", 1)
            renames[o] = n
    if len(paths) != 2:
        raise SystemExit(__doc__)
    old = json.load(open(paths[0]))
    new = json.load(open(paths[1]))
    r = compare(old, new, renames)
    calib = calib_shift(old, new)

    print(
        f"gate: >{ABS_FLOOR}s AND >{int((REL_FLOOR - 1) * 100)}% slower, "
        f"{len(old['queries'])} -> {len(new['queries'])} queries"
    )
    print(
        f"totals: spark {old.get('median_total')} -> "
        f"{new.get('median_total')}; oracle "
        f"{old.get('oracle_median_total')} -> "
        f"{new.get('oracle_median_total')} (moving together = machine "
        f"window, not code)"
    )
    if calib["ratios"] is None:
        print(
            "machine_calib: absent on "
            + " and ".join(calib["missing"])
            + " side — window screen unavailable (pre-r14 twin); "
            "flags unannotated"
        )
    else:
        band = f"±{int(CALIB_SUSPECT * 100)}%"
        verdict = "WINDOW-SUSPECT" if calib["suspect"] else f"within {band}"
        print(f"machine_calib: {calib['ratios']} ({verdict})")
    calib_note = (
        f"  [calib {calib['ratios']}]" if calib["ratios"] is not None else ""
    )
    for o, n in r["rename_pairs"]:
        print(f"rename     {o} -> {n} (timing-compared under new name)")
    for o, n, why in r["bad_renames"]:
        print(f"BAD RENAME --rename={o}={n}: {why}")
    for name, a, b, ratio in r["flags"]:
        print(f"REGRESSION {name}: {a}s -> {b}s  x{ratio}{calib_note}")
    for name, a, b, ratio in r["improved"]:
        print(f"improved   {name}: {a}s -> {b}s  x{ratio}")
    if r["only_old"]:
        print("dropped from headline:", r["only_old"])
    if r["only_new"]:
        print("added to headline:", r["only_new"])
    if r["bad_renames"]:
        print(
            "FAIL: declared rename(s) did not apply — fix the "
            "--rename declaration(s) named above."
        )
        return 1
    if r["suspected_renames"]:
        print(
            "FAIL: drops and adds coexist — if a query was renamed, "
            "declare it with --rename=old=new so it gets a timing "
            "comparison; otherwise adjudicate the membership change."
        )
        return 1
    if not r["flags"]:
        print("zero regression flags")
        return 0
    if calib["suspect"]:
        print(
            "WINDOW-SUSPECT: machine_calib moved >"
            f"{int(CALIB_SUSPECT * 100)}% — the flags above are "
            "annotated, not suppressed; first-screen verdict is the "
            "box, not the code. Re-run both sides on the same box, "
            "alternating their order."
        )
        return 2
    return 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
