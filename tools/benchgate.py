#!/usr/bin/env python3
"""Per-query bench regression gate.

Compares the current bench artifact (graft.Bench output / bench.json)
against a prior round's artifact and FAILS (exit 1) when any query's
median worsens more than `--threshold`x (default 1.5). Medians are
stable enough for this since round 7's median-of-3 interleaved protocol;
queries whose current time is under `--floor` (default 0.25s) or whose
absolute slowdown is under 2x the floor are exempt — at that scale timer
jitter, not plan shape, dominates. A small PRIOR time alone is never
exempt (0.24s -> 2.3s is a real regression).

Usage:
  python3 tools/benchgate.py bench.json BENCH_r07.json [--threshold 1.5]
  python3 tools/benchgate.py --self-test

New queries (present now, absent before) pass; removed queries warn.
The gate also fails if the current run recorded failures or rc != 0.
"""
import json
import sys

# Same-name queries whose DECLARED computation changed in a later round:
# the same-name comparison is meaningless across the change (it would
# compare two different workloads). Since r11 the bench artifact carries
# a per-query "rev" map (each registry entry's `rev`): the gate NOTEs
# exactly when cur-rev != prev-rev — workload IDENTITY, no runtime
# inference — and resumes normal gating the moment the baseline records
# the same rev. This table is the fallback for PRE-rev prior artifacts
# (<= r10 wrappers) via `prior_below` (exemption expires once the prior
# time shows the new workload), plus the changelog of the "why"s.
REDECLARED = {
    # r10: q130 went from fixed-`label` semDeDup (one pair join, ~0.96s
    # at sf0.1) to the paper's full semDeDupKMeans with the corpus-
    # adaptive cell count — 5 Lloyd iterations + assignment +
    # within-cell dedup (~5.7s). The old parameterization was the
    # scale-weak pin VERDICT r9 asked to retire; the new declared query
    # does strictly more work by design.
    "q130": {"prior_below": 3.0,
             "why": "r10: fixed-label semDeDup -> semDeDupKMeans(auto k)"},
}


def queries_of(doc):
    """Accept both the raw Bench JSON ({"queries": {...}}) and the driver's
    BENCH_r*.json wrapper (whose "tail" holds a json-fragment string)."""
    if "queries" in doc and isinstance(doc["queries"], dict):
        return doc["queries"]
    if "tail" in doc:
        # the driver wrapper stores a raw tail of Bench's JSON line: a
        # queries fragment, closed by the first '}', then trailing keys.
        # The clip can land MID-token (e.g. `q132":0.2`), so drop any
        # leading partial pair up to the first comma.
        frag = doc["tail"].strip().lstrip(",").split("}", 1)[0]
        if not frag.startswith('"') and "," in frag:
            frag = frag.split(",", 1)[1].lstrip(",")
        try:
            return json.loads("{" + frag + "}")
        except ValueError:
            # the clip can also land exactly ON a key's closing quote
            # (frag starts with '"' but is still a partial pair) — drop
            # through the first comma and retry
            frag = frag.split(",", 1)[1].lstrip(",") if "," in frag else ""
            return json.loads("{" + frag + "}")
    raise SystemExit("benchgate: artifact has neither 'queries' nor 'tail'")


def revs_of(doc):
    """Per-query declared-workload revision map, or None when the artifact
    predates rev stamping (then the REDECLARED prior_below fallback
    applies). Wrapper artifacts keep the line's TAIL, and "rev" is
    emitted after "queries", so it survives the clipping."""
    if isinstance(doc.get("rev"), dict):
        return doc["rev"]
    if "tail" in doc:
        import re
        m = re.search(r'"rev":\{([^}]*)\}', doc["tail"])
        if m is not None:
            return json.loads("{" + m.group(1) + "}")
    return None


def gate(cur, prev, threshold=1.5, floor=0.25):
    """Returns (regressions, removed): regressions is a list of
    (query, prev_sec, cur_sec, ratio)."""
    cur_q, prev_q = queries_of(cur), queries_of(prev)
    cur_rev = revs_of(cur) or {}
    prev_rev = revs_of(prev)
    regressions = []
    notes = []
    for name, now in sorted(cur_q.items()):
        was = prev_q.get(name)
        if was is None:
            continue  # new query this round: nothing to regress against
        if prev_rev is not None:
            # workload identity: both artifacts carry rev stamps —
            # exempt exactly while the revisions differ
            redeclared = cur_rev.get(name, 1) != prev_rev.get(name, 1)
            why = REDECLARED.get(name, {}).get(
                "why", f"rev {prev_rev.get(name, 1)} -> "
                       f"{cur_rev.get(name, 1)}")
        else:
            # pre-rev prior artifact: infer from the recorded time
            redeclared = (name in REDECLARED and
                          was < REDECLARED[name]["prior_below"])
            why = REDECLARED.get(name, {}).get("why", "")
        if redeclared:
            if was > 0 and now / was > threshold:
                notes.append((name, was, now, why))
            continue
        # jitter exemptions: a tiny current time can't be a meaningful
        # regression, and a small ABSOLUTE delta is timer noise even when
        # the ratio is large (0.1s -> 0.2s). A small PRIOR time alone is
        # NOT exempt: 0.24s -> 2.3s is a real 10x regression the old
        # either-side floor silently passed.
        if now <= floor or (now - was) <= 2 * floor:
            continue
        if was > 0 and now / was > threshold:
            regressions.append((name, was, now, now / was))
    removed = sorted(set(prev_q) - set(cur_q))
    return regressions, removed, notes


def self_test():
    prev = {"queries": {"q1": 1.0, "q2": 2.0, "q3": 0.1, "q4": 1.0,
                        "q6": 0.24}}
    # q1 regresses 2x (caught), q2 improves, q3 "regresses" under the
    # jitter floor (exempt: small absolute delta), q4 within threshold,
    # q5 is new (exempt), q6 regresses from a SMALL prior to a large
    # current (caught — the either-side floor used to miss this), and
    # prev-only q-gone reports as removed
    cur = {"queries": {"q1": 2.0, "q2": 1.0, "q3": 0.2, "q4": 1.4,
                       "q5": 9.9, "q6": 2.3}}
    prev["queries"]["q_gone"] = 1.0
    regs, removed, _ = gate(cur, prev)
    assert [r[0] for r in regs] == ["q1", "q6"], regs
    assert abs(regs[0][3] - 2.0) < 1e-9
    assert removed == ["q_gone"], removed
    # a redeclared query reports as a NOTE while the prior artifact
    # still carries the OLD workload's time...
    prev["queries"]["q130"] = 0.5
    cur["queries"]["q130"] = 5.0
    regs_r, _, notes_r = gate(cur, prev)
    assert [r[0] for r in regs_r] == ["q1", "q6"], regs_r
    assert [n[0] for n in notes_r] == ["q130"], notes_r
    # ...but once the baseline records the NEW workload, a real
    # regression in it FAILs again (the exemption expires)
    prev["queries"]["q130"] = 5.7
    cur["queries"]["q130"] = 57.0
    regs_x, _, notes_x = gate(cur, prev)
    assert "q130" in [r[0] for r in regs_x], regs_x
    assert notes_x == [], notes_x
    # rev-stamped artifacts gate on workload IDENTITY: same rev means a
    # q130 regression FAILs even from a small prior time...
    prev["queries"]["q130"] = 0.5
    cur["queries"]["q130"] = 5.0
    prev["rev"] = {"q130": 2}
    cur["rev"] = {"q130": 2}
    regs_i, _, notes_i = gate(cur, prev)
    assert "q130" in [r[0] for r in regs_i], regs_i
    assert notes_i == [], notes_i
    # ...and a rev bump NOTEs regardless of the prior time, including
    # for queries with no REDECLARED changelog entry
    cur["rev"] = {"q130": 3}
    prev["queries"]["q4"] = 1.0
    cur["queries"]["q4"] = 9.0
    cur["rev"]["q4"] = 2
    regs_b, _, notes_b = gate(cur, prev)
    assert sorted(n[0] for n in notes_b) == ["q130", "q4"], notes_b
    assert "q130" not in [r[0] for r in regs_b], regs_b
    # a tail clipped exactly ON a key's closing quote still parses
    assert queries_of({"tail": '":0.2,"q9":0.1},"x":1'}) == {"q9": 0.1}
    # rev map survives in a wrapper artifact's tail
    assert revs_of({"tail": ',"q9":0.1},"failures":{},"rev":{"q130":2},'
                           '"sf":"x"'}) == {"q130": 2}
    del prev["queries"]["q130"], cur["queries"]["q130"]
    del prev["rev"], cur["rev"]
    cur["queries"]["q4"] = 1.4
    # wrapper form ("tail" fragment) parses identically
    wrapped = {"tail":
               ',"q1":2.0,"q2":1.0,"q3":0.2,"q4":1.4,"q5":9.9,"q6":2.3'}
    regs2, _, _ = gate(wrapped, prev)
    assert [r[0] for r in regs2] == ["q1", "q6"], regs2
    # no-regression case passes
    regs3, _, _ = gate(prev, prev)
    assert regs3 == [], regs3
    print("benchgate self-test: OK")


def main(argv):
    if "--self-test" in argv:
        self_test()
        return 0
    args = [a for a in argv if not a.startswith("--")]
    if len(args) != 2:
        print(__doc__)
        return 2
    threshold = 1.5
    floor = 0.25
    for a in argv:
        if a.startswith("--threshold="):
            threshold = float(a.split("=", 1)[1])
        if a.startswith("--floor="):
            floor = float(a.split("=", 1)[1])
    cur = json.load(open(args[0]))
    prev = json.load(open(args[1]))
    if cur.get("rc", 0) != 0 or cur.get("failures"):
        print(f"FAIL benchgate: current run has rc={cur.get('rc')} "
              f"failures={cur.get('failures')}")
        return 1
    regs, removed, notes = gate(cur, prev, threshold, floor)
    for name, was, now, why in notes:
        print(f"NOTE {name}: {was:.3f}s -> {now:.3f}s — re-declared "
              f"({why}); not comparable across the change")
    for name in removed:
        print(f"WARN {name}: present in prior artifact, missing now")
    for name, was, now, ratio in regs:
        print(f"FAIL {name}: {was:.3f}s -> {now:.3f}s ({ratio:.2f}x > "
              f"{threshold}x)")
    n = len(queries_of(cur))
    if regs:
        print(f"== benchgate: {len(regs)} regression(s) over {n} queries ==")
        return 1
    print(f"== benchgate: no regressions over {n} queries "
          f"(threshold {threshold}x, floor {floor}s) ==")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
