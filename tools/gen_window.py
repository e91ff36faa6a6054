#!/usr/bin/env python
"""Generate the driver-check ordering for ``__spark_entry__.py`` — the
permanent staleness-rotation policy (VERDICT r4 item 1).

The driver's correctness sweep covers a bounded registry prefix (~50
entries per round), so the registry must be ordered by CHECK PRIORITY:

1. never-driver-checked keys (no green row in any CORRECTNESS_r*.json —
   includes every key added this round);
2. keys whose module changed since the round base commit but whose
   latest driver row predates the round (code moved under an old green);
3. everything else, oldest driver row first.

Ties break alphabetically for determinism.  Output is the Python source
of two pinned blocks (``_CHECK_ORDER``, ``_VERIFIED``) to paste into
``__spark_entry__.py``; run at end of round, after the last code commit:

    python tools/gen_window.py [--base <round-base-commit>] [--pin KEY ...] [--write]

Without ``--base`` the generator reuses the base commit AND the pins of
the committed block (``_ORDER_BASE_COMMIT``, ``_ORDER_PINS``), so a plain
``--write`` reproduces the committed window for an unchanged tree and
inputs.  A new ``--base`` starts a new round: pins then default to none.
"""

from __future__ import annotations

import argparse
import json
import os
import pathlib
import subprocess
import sys
import textwrap

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = pathlib.Path(__file__).resolve().parents[1]


def last_green_round(
    repo: pathlib.Path, max_round: int | None = None
) -> dict[str, int]:
    """key → latest round with a green driver row (hash-match, or the
    rows-only ``no_oracle`` check approx/side-effecting ops maximally
    get).  Red rows do NOT count — a key whose latest row failed
    re-enters the front of the window.  ``max_round`` restricts the scan
    to rounds ≤ N — tests pass the pinned ``_ORDER_BASIS_ROUND`` so the
    ordering invariants are checked against the SAME inputs the
    generator saw, no matter how many newer CORRECTNESS files the
    driver has dropped since (VERDICT r6 #1)."""
    out: dict[str, int] = {}
    for path in sorted(repo.glob("CORRECTNESS_r*.json")):
        rnd = int("".join(c for c in path.stem if c.isdigit()))
        if max_round is not None and rnd > max_round:
            continue
        for key, row in json.loads(path.read_text()).items():
            if row.get("hash_match") or row.get("err") == "no_oracle":
                out[key] = max(out.get(key, 0), rnd)
    return out


def newest_round(repo: pathlib.Path) -> int:
    """Highest round number among the CORRECTNESS_r*.json present."""
    return max(
        (
            int("".join(c for c in p.stem if c.isdigit()))
            for p in repo.glob("CORRECTNESS_r*.json")
        ),
        default=0,
    )


def touched_modules(base: str) -> set[str]:
    """Module paths changed since the round base commit, INCLUDING
    uncommitted working-tree edits AND brand-new untracked files.

    VERDICT r7 #1: diffing ``base..HEAD`` made a window regen that ran
    in the same commit as the code edits blind to exactly those edits
    (working tree != HEAD at generation time) — two rounds running the
    rewritten operators sat outside the checked window.  ``git diff
    <base>`` (no ``..HEAD``) compares base against the working tree;
    ``ls-files --others`` adds files never ``git add``-ed (a new module
    regenerated-before-staged is the same sequencing class), so the
    mistake is structurally impossible."""
    diff = subprocess.run(
        ["git", "diff", "--name-only", base],
        cwd=REPO,
        capture_output=True,
        text=True,
        check=True,
    ).stdout.split()
    untracked = subprocess.run(
        ["git", "ls-files", "--others", "--exclude-standard"],
        cwd=REPO,
        capture_output=True,
        text=True,
        check=True,
    ).stdout.split()
    return {
        p
        for p in diff + untracked
        if p.startswith("mysqldump_to_parquet_spark/")
    }


def reservation_takes(
    n_never: int,
    n_touched: int,
    n_tail: int,
    window: int,
    oldest_cohort: int = 0,
) -> tuple[int, int, int]:
    """(reserve, touch_take, tail_take) for :func:`pack_order` — the ONE
    copy of the staleness-reservation arithmetic (main's stderr report
    and tests/test_registry.py's invariant both call it, so a future
    tweak to the share cannot desynchronize them from the packing).

    ``oldest_cohort`` (r12, VERDICT r11 #1): the size of the tail's
    minimum-green-round cohort.  A cohort rotates ATOMICALLY when it
    fits the post-never window at all — without this, the r7 cohort
    (40 keys) would have left a 1-key remnant behind 11 touched keys,
    and a cohort remnant lingers as the oldest special case every
    round.  Displaced touched keys overflow to first-in-line-next-round
    exactly like any other touch overflow."""
    rest_slots = max(0, window - n_never)
    reserve = min(n_tail, rest_slots // 2)
    touch_take = min(n_touched, rest_slots - reserve)
    tail_take = min(n_tail, rest_slots - touch_take)
    need = min(oldest_cohort, n_tail, rest_slots)
    if tail_take < need:
        tail_take = need
        touch_take = min(touch_take, rest_slots - tail_take)
    return reserve, touch_take, tail_take


def oldest_cohort_size(greens: dict[str, int], tail: list[str]) -> int:
    """Size of the tail's minimum-green-round cohort — the unit the
    completion rule in :func:`reservation_takes` rotates atomically.
    Shared by main() and tests/test_registry.py so the two cannot
    disagree about the packed set."""
    rounds = [greens[k] for k in tail if k in greens]
    if not rounds:
        return 0
    oldest = min(rounds)
    return sum(1 for r in rounds if r == oldest)


def pack_order(
    never: list[str],
    touched: list[str],
    tail: list[str],
    window: int,
    oldest_cohort: int = 0,
) -> list[str]:
    """Pack the three priority buckets into the final check order with a
    STALENESS RESERVATION (VERDICT r9 #2): never-checked keys lead
    unconditionally; then touched-module keys — but at most the window's
    unreserved share, so ~half the remaining window always rotates the
    OLDEST driver evidence even in touch-heavy rounds (r5–r9 kept
    touching ≥40 keys/round and the oldest tail aged 4 rounds without
    re-evidence).  Touched keys that overflow the unreserved share sit
    IMMEDIATELY after the window — first in line next round.  Each
    bucket's internal order (age, then name) is preserved throughout.
    """
    _, touch_take, tail_take = reservation_takes(
        len(never), len(touched), len(tail), window, oldest_cohort
    )
    return (
        never
        + touched[:touch_take]
        + tail[:tail_take]
        + touched[touch_take:]
        + tail[tail_take:]
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--base",
        help="base commit modules are diffed against (working tree "
        "included); pick the newest commit ALL of whose module edits "
        "already have a green CORRECTNESS row.  Default: the committed "
        "_ORDER_BASE_COMMIT",
    )
    ap.add_argument("--window", type=int, default=50)
    ap.add_argument(
        "--pin",
        action="append",
        metavar="KEY",
        help="hoist KEY to the front of the touched bucket (repeatable; "
        "default: the committed _ORDER_PINS unless --base is given)."
        "  Module granularity cannot see WHICH keys inside a touched "
        "module the diff actually hit — r14 left q_sim_knn_join_ivf "
        "(whose code materially changed) outside the window behind six "
        "same-module keys the diff never touched, purely on the "
        "alphabetical tie-break (VERDICT r14 'window-rotation nit').  "
        "A pin is the sub-module annotation: it reorders WITHIN the "
        "touched bucket only (never steals a tail/never slot, so the "
        "staleness reservation is untouched), and it is REJECTED for "
        "keys whose module did not change — you cannot resurrect an "
        "arbitrary key with it.",
    )
    ap.add_argument(
        "--write",
        action="store_true",
        help="splice the generated blocks into __spark_entry__.py "
        "between the GENERATED CHECK ORDER markers",
    )
    args = ap.parse_args()

    import __spark_entry__ as ep

    if args.pin is None:
        args.pin = list(ep._ORDER_PINS) if args.base is None else []
    if args.base is None:
        args.base = ep._ORDER_BASE_COMMIT

    key_module: dict[str, str] = {}
    for mod in ep._MODULES:
        rel = mod.__file__.removeprefix(str(REPO) + "/")
        for key in mod.QUERIES:
            key_module[key] = rel

    greens = last_green_round(REPO)
    touched = touched_modules(args.base)

    def prio(key: str):
        rnd = greens.get(key)
        if rnd is None:
            bucket = 0  # never driver-checked
        elif key_module[key] in touched:
            bucket = 1  # green predates this round's code motion
        else:
            bucket = 2
        return (bucket, rnd or 0, key)

    by_prio = sorted(key_module, key=prio)
    b_never = [k for k in by_prio if greens.get(k) is None]
    b_touch = [
        k
        for k in by_prio
        if greens.get(k) is not None and key_module[k] in touched
    ]
    b_tail = [
        k
        for k in by_prio
        if greens.get(k) is not None and key_module[k] not in touched
    ]
    for key in args.pin:
        if key not in key_module:
            raise SystemExit(f"--pin {key}: not a registry key")
        if key in b_never:
            raise SystemExit(
                f"--pin {key}: never driver-checked — it already leads "
                "the window unconditionally; a pin is only for keys "
                "with stale green evidence"
            )
        if key not in b_touch:
            raise SystemExit(
                f"--pin {key}: its module ({key_module.get(key)}) is "
                "not touched this round — a pin reorders the touched "
                "bucket only"
            )
    # pinned keys lead the touched bucket (stable order of the pins,
    # deduped — a repeated --pin must not burn a second window slot —
    # then the usual age/name order for the rest)
    if args.pin:
        pinned = list(dict.fromkeys(k for k in args.pin if k in b_touch))
        b_touch = pinned + [k for k in b_touch if k not in pinned]
    cohort = oldest_cohort_size(greens, b_tail)
    order = pack_order(b_never, b_touch, b_tail, args.window, cohort)
    reserve, touch_take, tail_take = reservation_takes(
        len(b_never), len(b_touch), len(b_tail), args.window, cohort
    )
    print(
        f"# registry: {len(order)} keys — {len(b_never)} never-checked, "
        f"{len(b_touch)} in touched modules, window {args.window} "
        f"(tail reservation {reserve}, oldest cohort {cohort}, "
        f"takes touch={touch_take} tail={tail_take})",
        file=sys.stderr,
    )
    print(
        f"# window tail round: "
        f"{max((greens.get(k) or 0) for k in order[: args.window])}",
        file=sys.stderr,
    )

    def block(name: str, keys, container: str) -> str:
        body = " ".join(f'"{k}",' for k in keys)
        wrapped = textwrap.fill(
            body, width=72, initial_indent="        ", subsequent_indent="        "
        )
        open_, close = (
            ("(", ")") if container == "tuple" else ("frozenset({", "})")
        )
        return f"{name} = {open_}\n{wrapped}\n{close}" + (
            "" if container == "tuple" else ""
        )

    basis = newest_round(REPO)
    pins = "".join(f'    "{k}",\n' for k in args.pin)
    text = (
        f"#: inputs this ordering was generated from — tests re-derive\n"
        f"#: the generator's view through these pins, so a newer\n"
        f"#: CORRECTNESS file landing later cannot invert the invariants;\n"
        f"#: a plain tools/gen_window.py run re-reads the base and pins\n"
        f'_ORDER_BASE_COMMIT = "{args.base}"\n'
        f"_ORDER_BASIS_ROUND = {basis}\n"
        f"#: touched-bucket pins (sub-module change annotations)\n"
        f"_ORDER_PINS = (\n{pins})\n\n"
        + block("_CHECK_ORDER", order, "tuple")
        + "\n\n"
        + block("_VERIFIED", sorted(greens.keys() & key_module.keys()), "frozenset")
    )
    if args.write:
        entry = REPO / "__spark_entry__.py"
        src = entry.read_text()
        begin = "# --- BEGIN GENERATED CHECK ORDER (tools/gen_window.py) ---\n"
        end = "# --- END GENERATED CHECK ORDER ---"
        i, j = src.index(begin) + len(begin), src.index(end)
        entry.write_text(src[:i] + text + "\n" + src[j:])
        print(f"wrote {entry}", file=sys.stderr)
    else:
        print(text)


if __name__ == "__main__":
    main()
