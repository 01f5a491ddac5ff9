"""Value checks of engine output against the generator's numpy reference.

Every check returns a list of problems; an empty list means the output is
correct. Tolerances are fixed before any run, from the storage type: 0
for float32 records and :func:`gen.compressed_tolerance` for 134/16
records (the nbits=16 quantization bound).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

KEY_COLS = ("nomvar", "typvar", "etiket", "ip1", "ip2", "ip3")
MAX_REPORTED = 5


@dataclass
class Expect:
    """An expected output record: values (NaN where masked) within
    ``tol`` per element."""
    values: np.ndarray
    tol: float


def _lists(tab, name: str) -> "list[np.ndarray]":
    """A list<float> Arrow column as one float64 array per row; NULL
    elements read as NaN."""
    col = tab.column(name).combine_chunks()
    offs = col.offsets.to_numpy()
    vals = col.values.to_numpy(zero_copy_only=False).astype("float64")
    return [vals[offs[i]:offs[i + 1]] for i in range(len(col))]


def row_keys(tab, cols=KEY_COLS) -> "list[tuple]":
    data = [tab.column(c).to_pylist() for c in cols]
    return [tuple(r) for r in zip(*data)]


def check_records(tab, expected: "dict[tuple, Expect]", what: str,
                  key_cols=KEY_COLS) -> "list[str]":
    """Output record table ``tab`` (Arrow) holds exactly the records of
    ``expected``, keyed by ``key_cols``, each within tolerance."""
    problems: "list[str]" = []
    if tab.num_rows != len(expected):
        problems.append(f"{what}: {tab.num_rows} records, "
                        f"expected {len(expected)}")
    seen = set()
    for key, got in zip(row_keys(tab, key_cols), _lists(tab, "d")):
        if len(problems) >= MAX_REPORTED:
            break
        exp = expected.get(key)
        if exp is None or key in seen:
            problems.append(f"{what}: unexpected or repeated record {key}")
            continue
        seen.add(key)
        if got.shape != exp.values.shape:
            problems.append(f"{what}: {key} has {got.size} values, "
                            f"expected {exp.values.size}")
            continue
        gm, em = np.isnan(got), np.isnan(exp.values)
        if not np.array_equal(gm, em):
            problems.append(f"{what}: {key} masks {int(gm.sum())} values, "
                            f"expected {int(em.sum())}")
            continue
        err = np.abs(got[~gm] - exp.values[~em])
        if err.size and err.max() > exp.tol:
            i = int(np.argmax(err))
            problems.append(f"{what}: {key} off by {err[i]:.3g} "
                            f"(tolerance {exp.tol:.3g})")
    missing = len(set(expected) - seen)
    if missing and len(problems) < MAX_REPORTED:
        problems.append(f"{what}: {missing} expected records missing")
    return problems


def check_stats(tab, refs) -> "list[str]":
    """``fststat`` rows against min/max/mean/std and first-min/max
    positions computed from each record's reference values."""
    problems: "list[str]" = []
    by_key = {r.key: r for r in refs}
    if tab.num_rows != len(by_key):
        problems.append(f"stats: {tab.num_rows} rows, expected {len(by_key)}")
    cols = {c: tab.column(c).to_pylist()
            for c in ("min", "max", "mean", "std", "min_pos", "max_pos")}
    seen = set()
    for i, key in enumerate(row_keys(tab)):
        if len(problems) >= MAX_REPORTED:
            break
        r = by_key.get(key)
        if r is None or key in seen:
            problems.append(f"stats: unexpected or repeated row {key}")
            continue
        seen.add(key)
        t = r.truth.astype("float64")
        scale = max(1.0, float(np.abs(t).max()))
        tol = r.tol + 1e-6 * scale
        want = dict(min=t.min(), max=t.max(), mean=t.mean(), std=t.std())
        for name, w in want.items():
            if not abs(cols[name][i] - w) <= tol:
                problems.append(f"stats: {key} {name}={cols[name][i]!r}, "
                                f"expected {w:.7g}")
        if r.tol == 0.0:
            # first position in (i, j) order, as np.argmin over the
            # field shaped (ni, nj) finds it
            nj = int(r.meta["nj"])
            t_ij = t.reshape(nj, -1).T.ravel()
            for name, p in (("min_pos", int(np.argmin(t_ij))),
                            ("max_pos", int(np.argmax(t_ij)))):
                pos = cols[name][i]
                if (pos["i"], pos["j"]) != (p // nj + 1, p % nj + 1):
                    problems.append(f"stats: {key} {name}={pos}, expected "
                                    f"{(p // nj + 1, p % nj + 1)}")
    missing = len(set(by_key) - seen)
    if missing and len(problems) < MAX_REPORTED:
        problems.append(f"stats: {missing} rows missing")
    return problems


def check_ids(got: "list[int]", want: "set[int]", what: str) -> "list[str]":
    """A query returned exactly the record ids ``want``, each once."""
    if len(got) == len(want) and set(got) == want:
        return []
    extra = len(set(got) - want)
    return [f"{what}: {len(got)} rows ({extra} unexpected), "
            f"expected {len(want)}"]


def check_order(levels: "list[float]", nomvars: "list[str]",
                what: str) -> "list[str]":
    """``voir`` order: nomvar ascending, then level descending."""
    pairs = list(zip(nomvars, [-lv for lv in levels]))
    if pairs == sorted(pairs):
        return []
    return [f"{what}: rows not in (nomvar asc, level desc) order"]
