"""Seeded input generators with their numpy reference answers.

Every generator takes the workload seed, writes the engine's inputs to a
directory, and returns the reference the checks compare against. The
engine only ever sees the written files (FST/XDF containers) or the
generated rows (text corpus); the reference is computed here in numpy
from the generator's own values, never from engine output.

Records are written with the package's stand-alone XDF encoder
(``xdf_format.write_xdf``), which runs on the driver with no Spark job.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass

import numpy as np

#: quantization bits of the compressed records (datyp 134 'f')
COMPRESSED_NBITS = 16
BASE_DATE = dt.datetime(2024, 1, 15, 0, 0)
DEET = 300
PREF = 100000.0   # hybrid reference pressure (Pa)
RCOEF = 1.6
PTOP_ETA = 0.1   # top of the hybrid column, as eta
#: RMN stamp of 1980-01-01 00:00
STAMP_BASE = 123_200_000


def _stamp(when: dt.datetime) -> int:
    """RMN date stamp (the ``datetime_to_stamp_py`` layout, recomputed
    here so the reference does not depend on the engine's codec)."""
    units5 = int((when - dt.datetime(1980, 1, 1)).total_seconds()) // 5
    return STAMP_BASE + (units5 // 8) * 10 + (units5 % 8)


def encode_ip1(value: float, kind: int) -> int:
    """New-style ip1 encoding (convertIp: mantissa scaled into
    [100000, 1000000), exponent from 4)."""
    exp, temp = 4, abs(float(value))
    while 0 < exp < 15:
        if temp >= 1_000_000.0:
            temp /= 10.0
            exp -= 1
        elif temp < 100_000.0:
            temp *= 10.0
            exp += 1
        else:
            break
    return ((kind & 31) << 24) | (exp << 20) | min(int(round(temp)), 999_999)


def hybrid_levels(n: int) -> np.ndarray:
    """``n`` operational hybrid levels, top to surface, rounded to five
    significant digits the way model level lists are published. Most of
    their ip1 codes are not multiples of 8, so they are not exactly
    representable in float32."""
    eta = PTOP_ETA + (1.0 - PTOP_ETA) * np.linspace(0.0, 1.0, n) ** 1.3
    return np.array([float(f"{v:.5g}") for v in eta])


def compressed_tolerance(truth: np.ndarray) -> float:
    """Largest error a correct decode of a 134/16 record can show: half a
    quantization step, ``2**(floor(log2(range)) - 16)`` <= range/2**16,
    plus float32 rounding of the decoded value."""
    rng = float(truth.max() - truth.min())
    return rng * 2.0 ** -COMPRESSED_NBITS + float(np.abs(truth).max()) * 2.0 ** -22


@dataclass
class RefRecord:
    """One written record: its directory keys and the values a correct
    read returns, within ``tol`` per element."""
    meta: dict
    truth: np.ndarray          # float32, ni-fastest
    tol: float
    level: float = float("nan")

    @property
    def key(self) -> tuple:
        m = self.meta
        return (m["nomvar"], m["typvar"], m["etiket"], m["ip1"], m["ip2"],
                m["ip3"])


@dataclass
class Archive:
    """A generated FST archive and its reference."""
    root: str
    records: "list[RefRecord]"
    files: "list[str]"
    nbytes: int = 0


def _field(rng: np.random.Generator, ni: int, nj: int, base: float,
           amp: float) -> np.ndarray:
    """Smooth field plus noise, ni-fastest."""
    x = np.linspace(0.0, 2.0 * np.pi, ni)
    y = np.linspace(0.0, np.pi, nj)
    px, py = rng.uniform(0, 2 * np.pi, 2)
    smooth = np.sin(x[None, :] + px) * np.cos(y[:, None] + py)
    return (base + amp * smooth
            + 0.05 * amp * rng.standard_normal((nj, ni))).ravel()


#: (nomvar, base, amplitude, compressed) of the hybrid-level variables
COMPUTE_VARS = (("TT", -20.0, 25.0, True), ("ES", 4.0, 3.0, False),
                ("UU", 10.0, 30.0, True), ("HU", 0.005, 0.004, False))


def fst_archive(root: str, seed: int, *, grids: int, ni: int, nj: int,
                nlev: int, hours: "tuple[int, ...]" = (0, 6),
                masked_var: str = "GZ") -> Archive:
    """Model-output archive, one XDF file per grid. Each grid carries
    ``>>``/``^^`` axes, a ``!!`` 5005 table (float64 on disk), P0 per
    forecast hour, four variables on ``nlev`` hybrid levels (two of them
    compressed 134/16, two float 5/32) and a masked ``P@``/``@@`` pair
    of ``masked_var`` on every level."""
    from fstd2pandas_spark.sources.xdf_format import write_xdf

    os.makedirs(root, exist_ok=True)
    rng = np.random.default_rng(seed)
    levels = hybrid_levels(nlev)
    ip1s = [encode_ip1(v, 5) for v in levels]
    out: "list[RefRecord]" = []
    files = []
    arch = Archive(root=root, records=out, files=files)
    for g in range(grids):
        recs: "list[dict]" = []
        ig1, ig2 = 1000 + g, 2000 + g
        etiket = f"G{g:02d}_V710_N"
        dateo = _stamp(BASE_DATE)
        common = dict(etiket=etiket, nk=1, dateo=dateo, ip3=0, deet=DEET,
                      grtyp="Z", ig1=ig1, ig2=ig2, ig3=0, ig4=0)

        def add(d: np.ndarray, compressed: bool, level=float("nan"), **kw):
            meta = dict(common, **kw)
            hour = meta.pop("hour", 0)
            meta.setdefault("npas", hour * 3600 // DEET)
            meta.setdefault("ip2", hour)
            meta["datev"] = _stamp(BASE_DATE + dt.timedelta(
                seconds=meta["deet"] * meta["npas"]))
            if compressed:
                meta.update(datyp=134, nbits=COMPRESSED_NBITS)
                truth = np.asarray(d, dtype="float64")
                tol = compressed_tolerance(truth)
            else:
                meta.setdefault("datyp", 5)
                meta.setdefault("nbits", 32)
                truth = np.asarray(d, dtype="float64")
                tol = 0.0
            rec = dict(meta, d=truth)
            recs.append(rec)
            out.append(RefRecord(meta=meta, truth=truth.astype("float32"),
                                 tol=tol, level=level))

        lon = np.linspace(-100.0, -60.0, ni) + g
        lat = np.linspace(30.0, 60.0, nj)
        axis = dict(typvar="X", grtyp="E", ig1=900, ig2=0, ip1=ig1, ip2=ig2,
                    deet=0, npas=0)
        add(lon, False, nomvar=">>", ni=ni, nj=1, **axis)
        add(lat, False, nomvar="^^", ni=1, nj=nj, **axis)
        # !! 5005: columns (ip1, A, B); column 2's A is pref
        etatop = PTOP_ETA
        cols = [(1.0, 0.0, 0.0), (2.0, PREF, 0.0)]
        for lv, ip1 in zip(levels, ip1s):
            b = ((lv - etatop) / (1.0 - etatop)) ** RCOEF
            cols.append((float(ip1), float(np.log(PREF * lv)), b))
        add(np.array(cols, dtype="float64").ravel(), False, nomvar="!!",
            typvar="X", ni=3, nj=len(cols), datyp=5, nbits=64, ip1=ig1,
            ip2=ig2, ig1=5005, ig2=0, deet=0, npas=0, grtyp="X")
        for hour in hours:
            add(_field(rng, ni, nj, 1000.0, 30.0), False, nomvar="P0",
                typvar="P", ni=ni, nj=nj, ip1=0, hour=hour)
        for hour in hours:
            for lv, ip1 in zip(levels, ip1s):
                for nomvar, base, amp, comp in COMPUTE_VARS:
                    add(_field(rng, ni, nj, base * (0.5 + lv), amp), comp,
                        level=lv, nomvar=nomvar, typvar="P", ni=ni, nj=nj,
                        ip1=ip1, hour=hour)
                add(_field(rng, ni, nj, 500.0 * (1.2 - lv), 20.0), True,
                    level=lv, nomvar=masked_var, typvar="P@", ni=ni, nj=nj,
                    ip1=ip1, hour=hour)
                mask = (rng.random(ni * nj) < 0.7).astype("float64")
                add(mask, False, level=lv, nomvar=masked_var, typvar="@@",
                    ni=ni, nj=nj, ip1=ip1, hour=hour, datyp=2, nbits=32)
        path = os.path.join(root, f"grid{g:02d}.fst")
        write_xdf(path, recs)
        files.append(path)
    arch.nbytes = sum(os.path.getsize(p) for p in files)
    return arch


# --- catalog: many tiny records, queried through the directory -----------

CATALOG_VARS = ("TT", "UU", "VV", "HU", "ES", "GZ", "WW", "TD")
CATALOG_RUNS = ("R1_V710_N", "R1_V720_P", "G2_V700_N", "E3_V710_X")


def catalog_archive(root: str, seed: int, *, files: int,
                    per_file: int, n: int = 8) -> Archive:
    """``files`` XDF files of ``per_file`` tiny ``n``×``n`` float records
    each, with metadata drawn from a realistic mix: 8 variables, 4 runs
    (etiket), pressure levels, 1-12 forecast hours."""
    from fstd2pandas_spark.sources.xdf_format import write_xdf

    os.makedirs(root, exist_ok=True)
    rng = np.random.default_rng(seed)
    pressures = np.array([1000, 925, 850, 700, 500, 400, 300, 250, 200, 100],
                         dtype="float64")
    ip1_of = {p: encode_ip1(p, 2) for p in pressures}
    out: "list[RefRecord]" = []
    paths = []
    dateo = _stamp(BASE_DATE)
    for f in range(files):
        recs = []
        nom = rng.integers(0, len(CATALOG_VARS), per_file)
        run = rng.integers(0, len(CATALOG_RUNS), per_file)
        lev = rng.integers(0, len(pressures), per_file)
        hour = rng.integers(1, 13, per_file)
        vals = rng.standard_normal((per_file, n * n)).astype("float32")
        for i in range(per_file):
            npas = int(hour[i]) * 3600 // DEET
            meta = dict(nomvar=CATALOG_VARS[nom[i]], typvar="P",
                        etiket=CATALOG_RUNS[run[i]], ni=n, nj=n, nk=1,
                        dateo=dateo, ip1=ip1_of[pressures[lev[i]]],
                        ip2=int(hour[i]), ip3=f * per_file + i,
                        deet=DEET, npas=npas, datyp=5, nbits=32, grtyp="L",
                        ig1=100, ig2=100, ig3=1000, ig4=1000,
                        datev=_stamp(BASE_DATE + dt.timedelta(
                            hours=int(hour[i]))))
            recs.append(dict(meta, d=vals[i]))
            out.append(RefRecord(meta=meta, truth=vals[i], tol=0.0,
                                 level=float(pressures[lev[i]])))
        path = os.path.join(root, f"cat{f:03d}.fst")
        write_xdf(path, recs)
        paths.append(path)
    arch = Archive(root=root, records=out, files=paths)
    arch.nbytes = sum(os.path.getsize(p) for p in paths)
    return arch


# --- text corpus: planted near-duplicate families ------------------------

@dataclass
class Corpus:
    ids: np.ndarray
    texts: "list[str]"
    #: family id per document, -1 for a unique document
    family: np.ndarray
    #: (a, b) id pairs of consecutive chain members (the planted edges)
    links: "list[tuple[int, int]]"


def text_corpus(seed: int, *, docs: int, families: int, chain: int,
                copies: int, words: int = 60,
                vocab: int = 50_000) -> Corpus:
    """``families`` mutation chains of ``chain`` documents each (every
    member differs from the previous one by one replaced word, so the
    pair graph of a family is a path of diameter ``chain - 1``), plus
    ``copies`` exact copies of chain members, padded with unique
    documents to ``docs`` in total. Ids are shuffled so no id order
    follows the chains."""
    rng = np.random.default_rng(seed)
    words_tab = np.array([f"w{i:05d}" for i in range(vocab)])
    texts: "list[str]" = []
    family: "list[int]" = []
    members: "list[list[int]]" = []
    for f in range(families):
        cur = rng.integers(0, vocab, words)
        idx = []
        for _ in range(chain):
            idx.append(len(texts))
            texts.append(" ".join(words_tab[cur]))
            family.append(f)
            cur = cur.copy()
            cur[rng.integers(0, words)] = rng.integers(0, vocab)
        members.append(idx)
    flat = [i for m in members for i in m]
    for i in rng.choice(len(flat), copies, replace=False):
        src = flat[i]
        texts.append(texts[src])
        family.append(family[src])
    while len(texts) < docs:
        texts.append(" ".join(words_tab[rng.integers(0, vocab, words)]))
        family.append(-1)
    perm = rng.permutation(len(texts))  # position -> doc id
    ids = np.empty(len(texts), dtype="int64")
    ids[np.arange(len(texts))] = perm
    links = [(int(min(ids[a], ids[b])), int(max(ids[a], ids[b])))
             for m in members for a, b in zip(m, m[1:])]
    return Corpus(ids=ids, texts=texts, family=np.asarray(family),
                  links=links)
