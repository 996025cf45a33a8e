"""Seeded census-API inputs for the ``census_pipeline`` workload.

``census(out_dir, seed, tracts)`` writes two vintages of a census-API
response (JSON array-of-arrays, header row first, all cells strings) plus
``truth.json``: the row counts, key lists and cleaned-column sums the
census workload checks its results against. Every planted blank and
``-666666666`` sentinel is known here, so the sums are exact.
"""
import json
import os

import numpy as np

# --------------------------------------------------------------------------
# census API responses

SENTINEL = "-666666666"
# Sentinels in the two percent codes. Off: at this commit
# ``graft.census.Normalize.cleanCast`` casts a percent cell to
# DECIMAL(5,1) before nulling sentinels, which throws
# NUMERIC_VALUE_OUT_OF_RANGE under Spark's default ANSI mode. The harness
# reports that defect on every census run (``known_defects``); turn this on
# once the cast nulls sentinels first.
PERCENT_SENTINELS = False
UNASSIGNED = {3, 7, 14, 43, 52}
STATES = [f"{i:02d}" for i in range(1, 57) if i not in UNASSIGNED]


# The 62 variable codes of the census code-to-label mapping, in mapping
# order. Percent codes end in ``PE`` and clean to DECIMAL(5,1).
CODES = [
    "DP02_0060E", "DP02_0061E", "DP02_0062E", "DP02_0063E", "DP02_0064E",
    "DP02_0068E", "DP03_0062E", "DP03_0052E", "DP03_0053E", "DP03_0054E",
    "DP03_0055E", "DP03_0056E", "DP03_0057E", "DP03_0058E", "DP03_0059E",
    "DP03_0060E", "DP03_0061E", "DP03_0097PE", "DP03_0009PE", "DP05_0076E",
    "DP05_0082E", "DP05_0083E", "DP05_0084E", "DP05_0085E", "DP05_0086E",
    "DP05_0087E", "DP05_0088E", "S0101_C01_001E", "S0101_C01_002E",
    "S0101_C01_003E", "S0101_C01_004E", "S0101_C01_005E", "S0101_C01_006E",
    "S0101_C01_007E", "S0101_C01_008E", "S0101_C01_009E", "S0101_C01_010E",
    "S0101_C01_011E", "S0101_C01_012E", "S0101_C01_013E", "S0101_C01_014E",
    "S0101_C01_015E", "S0101_C01_016E", "S0101_C01_017E", "S0101_C01_018E",
    "S0101_C01_019E", "S0101_C01_020E", "S0101_C01_021E", "S0101_C01_022E",
    "S0101_C01_023E", "S0101_C01_024E", "S0101_C01_025E", "S0101_C01_026E",
    "S0101_C01_027E", "S0101_C01_028E", "S0101_C01_029E", "S0101_C01_030E",
    "S0101_C01_031E", "S0101_C01_032E", "S0101_C03_001E", "S0101_C05_001E",
    "S0101_C05_024E",
]


def _cell(rng, pct):
    return f"{rng.integers(0, 1000) / 10:.1f}" if pct else str(int(rng.integers(0, 50_000)))


def census(out_dir, seed, tracts):
    """Write ``v1.json`` (vintage 1), ``v2_changes.json`` (the vintage-2
    rows that changed or are new) and ``truth.json`` under out_dir.

    Tracts are spread round-robin over the 51 census states (so every
    chunk partition holds data). About 2% of cells are blank and 2% are
    the suppression sentinel; both clean to NULL. Vintage 2 changes 5%
    of the tracts (one code each), adds 2% new tracts and deletes 2%.
    """
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    codes = CODES
    pct = [c.endswith("PE") for c in codes]

    def geo(i):
        st = STATES[i % len(STATES)]
        county = f"{(i // len(STATES)) % 200 + 1:03d}"
        return st, county, f"{i:06d}"

    def row(i):
        vals = []
        for p in pct:
            u = rng.random()
            sentinel = u < 0.04 and PERCENT_SENTINELS if p else u < 0.04
            vals.append("" if u < 0.02 else SENTINEL if sentinel else _cell(rng, p))
        st, county, tr = geo(i)
        return [f"Census Tract {i}, State {st}"] + vals + [st, county, tr]

    header = ["NAME"] + codes + ["state", "county", "tract"]
    v1 = {i: row(i) for i in range(tracts)}
    ids = rng.permutation(tracts)
    n_chg, n_del = int(tracts * 0.05), int(tracts * 0.02)
    changed = sorted(int(i) for i in ids[:n_chg])
    deleted = sorted(int(i) for i in ids[n_chg:n_chg + n_del])
    added = list(range(tracts, tracts + int(tracts * 0.02)))
    v2 = {i: list(r) for i, r in v1.items() if i not in set(deleted)}
    for i in changed:
        j = 1 + int(rng.integers(0, len(codes)))
        new = v2[i][j]
        while new == v2[i][j]:
            new = _cell(rng, pct[j - 1])
        v2[i][j] = new
    for i in added:
        v2[i] = row(i)

    def sums(rows):
        """Per code: (sum of the cleaned values in tenths, non-null count)."""
        out = {}
        for k, c in enumerate(codes):
            vals = [r[1 + k] for r in rows.values()]
            vals = [v for v in vals if v not in ("", SENTINEL)]
            out[c] = (sum(round(float(v) * 10) for v in vals), len(vals))
        return out

    def geoid(i):
        st, county, tr = geo(i)
        return int(st + county + tr)

    for name, rows in (("v1", v1), ("v2_changes", {i: v2[i] for i in changed + added})):
        with open(os.path.join(out_dir, f"{name}.json"), "w") as f:
            json.dump([header] + [rows[i] for i in sorted(rows)], f)
    by_state = {}
    for i in v1:
        by_state[geo(i)[0]] = by_state.get(geo(i)[0], 0) + 1
    band = sorted(geoid(i) for i in v2)
    lo, hi = band[len(band) // 4], band[len(band) // 2]
    truth = {
        "codes": codes,
        "v1_rows": len(v1), "v2_rows": len(v2),
        "changed": [geoid(i) for i in changed],
        "deleted": [geoid(i) for i in deleted],
        "added": [geoid(i) for i in added],
        "v1_by_state": by_state,
        "v1_sums": sums(v1),
        "v2_sums": sums(v2),
        "band_lo": lo, "band_hi": hi,
        "v2_rows_in_band": sum(1 for g in band if lo <= g <= hi),
    }
    with open(os.path.join(out_dir, "truth.json"), "w") as f:
        json.dump(truth, f)
