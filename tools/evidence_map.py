"""Generate the per-query evidence appendix from committed artifacts.

COVERAGE.md's prose is hand-maintained; the judge should read STATE,
not claims (r10 VERDICT item 7). This tool derives, for every query the
engine ships, the newest green evidence row from the committed
CORRECTNESS_r*.json and LOCALCHECK_r*.json artifacts — byte-for-byte
the same files the judge reads — and writes COVERAGE_EVIDENCE.md as a
single generated table:

    name | set | newest green round | evidence source | SFs checked

Sets: ``registered`` (in the driver's registry; attested by CORRECTNESS
and LOCALCHECK rows) and ``local-only`` (the extension wave, LOCALCHECK
only).

Run at round close (after tools/localcheck.py): the table is committed
so a judge can diff it against the JSON artifacts directly.

It also regenerates the FAMILY SUMMARY header block in COVERAGE.md
(between the GENERATED:FAMILY-SUMMARY markers): families x set counts
x newest evidence round, derived from the same JSON, so a reader gets
the 20-line state view before the 800-line narrative.

Usage: python tools/evidence_map.py
"""

from __future__ import annotations

import json
import os
import re
import sys
from pathlib import Path

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _green_rows(path: Path) -> dict[str, dict]:
    try:
        data = json.loads(path.read_text())
    except (OSError, ValueError):
        return {}
    return {
        n: row
        for n, row in data.items()
        if isinstance(row, dict)
        and row.get("rows_match")
        and row.get("schema_match")
        and row.get("hash_match")
    }


def collect_evidence(root: Path) -> dict[str, dict]:
    """name -> {round, source, sfs} for the NEWEST green evidence."""
    out: dict[str, dict] = {}

    def _update(name: str, rnd: int, source: str, sf: str) -> None:
        # track (source, sf) PAIRS (r11 ADVICE): a round with a
        # CORRECTNESS row (always sf0.01) plus a LOCALCHECK sf0.1 row
        # must not report source=CORRECTNESS for both SFs — sfs is a
        # {sf: source} dict, CORRECTNESS outranking LOCALCHECK only
        # for the SAME sf.
        cur = out.get(name)
        if cur is None or rnd > cur["round"]:
            out[name] = {"round": rnd, "sfs": {sf: source}}
        elif rnd == cur["round"]:
            if source == "CORRECTNESS" or sf not in cur["sfs"]:
                cur["sfs"][sf] = source

    for p in sorted(root.glob("CORRECTNESS_r*.json")):
        m = re.search(r"r(\d+)", p.name)
        if not m:
            continue
        for name in _green_rows(p):
            _update(name, int(m.group(1)), "CORRECTNESS", "0.01")

    for p in sorted(root.glob("LOCALCHECK_r*.json")):
        m = re.search(r"r(\d+)(_sf01)?", p.name)
        if not m:
            continue
        sf = "0.1" if m.group(2) else "0.01"
        try:
            meta = json.loads(p.read_text()).get("_meta", {})
        except (OSError, ValueError):
            meta = {}
        sf_dir = str(meta.get("sf_dir", ""))
        if "sf0.1" in sf_dir:
            sf = "0.1"
        for name in _green_rows(p):
            _update(name, int(m.group(1)), "LOCALCHECK", sf)
    return out


def query_sets() -> dict[str, str]:
    """name -> registered | local-only, from the live code."""
    from erathia_market_etl_spark.plans import all_queries, local_queries

    sets = {n: "registered" for n in all_queries()}
    sets.update({n: "local-only" for n in local_queries()})
    return sets


def query_families() -> dict[str, str]:
    """name -> defining plan module (the family grouping COVERAGE.md's
    narrative sections follow), from the live callables."""
    from erathia_market_etl_spark.plans import all_queries, local_queries

    fns: dict[str, object] = dict(all_queries())
    fns.update({n: fq[0] for n, fq in local_queries().items()})
    return {
        n: getattr(f, "__module__", "?").rsplit(".", 1)[-1]
        for n, f in fns.items()
    }


_SUMMARY_BEGIN = "<!-- GENERATED:FAMILY-SUMMARY:BEGIN (tools/evidence_map.py) -->"
_SUMMARY_END = "<!-- GENERATED:FAMILY-SUMMARY:END -->"


def write_family_summary(
    root: Path, evidence: dict[str, dict], sets: dict[str, str]
) -> None:
    """Regenerate the COVERAGE.md header block: one row per plan-module
    family with set counts and the newest green evidence round."""
    families = query_families()
    rows: dict[str, dict] = {}
    for name, fam in families.items():
        r = rows.setdefault(
            fam, {"registered": 0, "local-only": 0, "newest": 0}
        )
        r[sets.get(name, "local-only")] += 1
        ev = evidence.get(name)
        if ev:
            r["newest"] = max(r["newest"], ev["round"])
    lines = [
        _SUMMARY_BEGIN,
        "",
        "| family (plan module) | registered | local-only | total | newest green |",
        "|---|---|---|---|---|",
    ]
    tot = {"registered": 0, "local-only": 0}
    for fam in sorted(rows):
        r = rows[fam]
        total = r["registered"] + r["local-only"]
        for k in tot:
            tot[k] += r[k]
        lines.append(
            f"| {fam} | {r['registered']} | {r['local-only']} | "
            f"{total} | r{r['newest']} |"
        )
    lines.append(
        f"| **all** | **{tot['registered']}** | **{tot['local-only']}** | "
        f"**{sum(tot.values())}** | |"
    )
    lines += ["", _SUMMARY_END]
    block = "\n".join(lines)

    path = root / "COVERAGE.md"
    text = path.read_text()
    if _SUMMARY_BEGIN in text:
        pre, rest = text.split(_SUMMARY_BEGIN, 1)
        _, post = rest.split(_SUMMARY_END, 1)
        path.write_text(pre + block + post)
    else:
        # first run: insert after the opening paragraph (before the
        # first section heading)
        idx = text.index("\n## ")
        path.write_text(text[:idx] + "\n" + block + "\n" + text[idx:])


def main() -> None:
    root = Path(__file__).resolve().parents[1]
    evidence = collect_evidence(root)
    sets = query_sets()

    lines = [
        "# Evidence map (GENERATED — do not hand-edit)",
        "",
        "Derived from the committed CORRECTNESS_r*.json / "
        "LOCALCHECK_r*.json artifacts by `tools/evidence_map.py`; "
        "regenerate at round close. One row per query the engine "
        "ships; `newest green` is the latest round with a full "
        "rows+schema+hash green row in ANY artifact.",
        "",
        "| query | set | newest green | evidence (per SF) |",
        "|---|---|---|---|",
    ]
    missing = []
    for name in sorted(sets):
        ev = evidence.get(name)
        if ev is None:
            missing.append(name)
            lines.append(f"| {name} | {sets[name]} | — | — |")
            continue
        sfs = ", ".join(
            f"{sf} ({src})" for sf, src in sorted(ev["sfs"].items())
        )
        lines.append(
            f"| {name} | {sets[name]} | r{ev['round']} | {sfs} |"
        )
    with_evidence = [n for n in sets if n in evidence]
    newest = max((e["round"] for e in evidence.values()), default=0)
    lines += [
        "",
        f"Totals: {len(sets)} queries ({sum(1 for v in sets.values() if v == 'registered')} "
        f"registered, {sum(1 for v in sets.values() if v == 'local-only')} local-only); "
        f"{len(with_evidence)} with green evidence, {len(missing)} never-green"
        + (f" ({', '.join(missing)})" if missing else "")
        + f"; newest round seen: r{newest}.",
        "",
    ]
    # aged = evidence older than (newest - 1)
    aged = [
        f"{n}(r{evidence[n]['round']})" for n in sorted(sets)
        if n in evidence and evidence[n]["round"] < newest - 1
    ]
    lines += [
        f"Aged past the 2-round window: {', '.join(aged) if aged else 'none'}.",
        "",
    ]
    out_path = root / "COVERAGE_EVIDENCE.md"
    out_path.write_text("\n".join(lines))
    write_family_summary(root, evidence, sets)
    print(json.dumps({
        "queries": len(sets),
        "green": len(with_evidence),
        "never_green": missing,
        "aged_past_window": aged,
        "artifact": str(out_path),
    }))


if __name__ == "__main__":
    main()
