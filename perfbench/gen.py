"""Seeded inputs and the in-memory models the benchmark's checks use.

`land_solution` writes landed logic-tree branch dirs in the layout
`sources.nshm_api.merge_branch_dirs` reads (GeoJSON traces, ragged
`indices.csv`, rates/properties CSVs, wide MFD CSVs). Alongside it returns
the six NSHMDB tables a correct build produces from those files, computed
with pandas from the CSVs just written; the `lookup` workload checks the
database the program's ETL builds against them. `revision_batches` draws the
revision stream of the `revise` workload, and `write_star` the small star
schema the sweep of registered queries reads. Everything is a pure
function of seed and size.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from nshm2022db_spark.functions.geo import planes_from_trace
from nshm2022db_spark.sources import nshm_api as api

CRUSTAL, HIKURANGI, PUYSEGUR = 3, 1, 2
MAG_BINS = [round(6.05 + 0.1 * i, 2) for i in range(30)]
_WORDS = ("Alpine", "Hope", "Wairau", "Awatere", "Clarence", "Ohariu", "Wellington")
_CORNERS = ("top_left", "top_right", "bottom_right", "bottom_left")


@dataclass(frozen=True)
class SolutionSize:
    """Branch counts, crustal parents and ruptures per fault system
    (crustal, hikurangi, puysegur)."""

    branches: tuple[int, int, int] = (2, 1, 1)
    crustal_parents: int = 30
    subduction_sections: int = 20
    ruptures: tuple[int, int, int] = (2000, 400, 200)


def parent_name(k: int) -> str:
    """Crustal parent names exercise the DSL atom charset (space, ':', '-')."""
    return f"CF-{k:03d}: {_WORDS[k % len(_WORDS)]}"


def _sections(rng, system: int, size: SolutionSize) -> list[tuple[int, str, list, dict]]:
    """(nshm_id, parent, trace, properties) per section. Crustal parents
    own 2-6 sections; a subduction interface is one parent."""
    if system == CRUSTAL:
        groups = [(parent_name(k), int(rng.integers(2, 7))) for k in range(size.crustal_parents)]
    else:
        name = api.HIKURANGI_NAME if system == HIKURANGI else api.PUYSEGUR_NAME
        groups = [(name, size.subduction_sections)]
    out = []
    for name, n in groups:
        lon, lat = 166.5 + 10.0 * rng.random(), -47.0 + 10.0 * rng.random()
        for _ in range(n):
            trace = [[lon, lat]]
            for _ in range(int(rng.integers(1, 4))):
                lon, lat = lon + float(rng.uniform(0.03, 0.08)), lat + float(rng.uniform(0.03, 0.08))
                trace.append([lon, lat])
            props = {
                "FaultID": len(out), "ParentName": name, "Rake": float(rng.integers(-180, 180)),
                "DipDeg": 90.0 if rng.random() < 0.1 else float(rng.integers(20, 80)),
                "UpDepth": 0.0, "LowDepth": float(rng.integers(10, 25)),
            }
            if rng.random() < 0.8:
                props["DipDir"] = float(rng.integers(0, 360))
            out.append((len(out), name, trace, props))
    return out


def _ruptures(rng, system: int, sections, n: int) -> list[list[int]]:
    """Section ids per rupture. Crustal ruptures join contiguous sections
    of 1-3 neighbouring parents, so multi-atom DSL queries have answers;
    subduction ruptures are contiguous runs of one interface."""
    by_parent: dict[str, list[int]] = {}
    for sid, name, _, _ in sections:
        by_parent.setdefault(name, []).append(sid)
    parents = list(by_parent)
    out = []
    for _ in range(n):
        if system == CRUSTAL:
            k = int(rng.integers(0, len(parents)))
            secs: list[int] = []
            for p in parents[k : k + int(rng.integers(1, 4))]:
                ids = by_parent[p]
                a = int(rng.integers(0, len(ids)))
                secs += ids[a : a + int(rng.integers(1, 4))]
        else:
            ids = by_parent[parents[0]]
            a = int(rng.integers(0, len(ids)))
            secs = ids[a : a + int(rng.integers(1, 11))]
        out.append(secs)
    return out


def _write_branch(d: str, sections, ruptures, props: pd.DataFrame, rates, mfd) -> None:
    for member in (api.FAULT_INFORMATION_PATH, api.RUPTURE_RATES_PATH):
        os.makedirs(os.path.dirname(os.path.join(d, member)), exist_ok=True)
    features = [
        {"type": "Feature", "geometry": {"type": "LineString", "coordinates": trace},
         "properties": p}
        for _, _, trace, p in sections
    ]
    with open(os.path.join(d, api.FAULT_INFORMATION_PATH), "w") as f:
        json.dump({"type": "FeatureCollection", "features": features}, f)
    width = max(len(s) for s in ruptures)
    with open(os.path.join(d, api.RUPTURE_FAULT_JOIN_PATH), "w") as f:
        f.write("Rupture Index,Num Sections," + ",".join(f"Sec {i}" for i in range(width)) + "\n")
        for rid, secs in enumerate(ruptures):
            pad = "," * (width - len(secs)) if rid % 3 == 0 else ""
            f.write(f"{rid},{len(secs)}," + ",".join(map(str, secs)) + pad + "\n")
    pd.DataFrame({"Rupture Index": np.arange(len(rates)), "Annual Rate": rates}).to_csv(
        os.path.join(d, api.RUPTURE_RATES_PATH), index=False, float_format="%.9e")
    props.to_csv(os.path.join(d, api.RUPTURE_PROPERTIES_PATH), index=False)
    wide = pd.DataFrame(mfd, columns=[f"{m:.2f}" for m in MAG_BINS])
    wide.insert(0, "Section Index", [s[0] for s in sections])
    wide.to_csv(os.path.join(d, api.MFDS_PATH), index=False, float_format="%.9e")


def land_solution(root: str, seed: int, size: SolutionSize):
    """Write every branch dir under ``root``. Returns ``(landed, tables)``:
    the ``short_name -> [(weight, dir)]`` map `composite_solution` takes,
    and the six NSHMDB tables a build of it must produce, with surrogate
    keys dense in natural-key order as `dense_surrogate_keys` assigns them."""
    rng = np.random.default_rng(seed)
    landed: dict[str, list[tuple[float, str]]] = {}
    faults, planes, ruptures, bridge, mfds = [], [], [], [], []
    for (short, system), n_br, n_rup in zip(
        (("CRU", CRUSTAL), ("HIK", HIKURANGI), ("PUY", PUYSEGUR)), size.branches, size.ruptures
    ):
        sections = _sections(rng, system, size)
        rup_secs = _ruptures(rng, system, sections, n_rup)
        mag = rng.uniform(6.0, 9.0, n_rup).round(3)
        props = pd.DataFrame({
            "Rupture Index": np.arange(n_rup), "Magnitude": mag,
            "Area (m^2)": (10 ** (mag - 4.0)).round(1),
            "Length (m)": [1e4 * len(s) for s in rup_secs],
        })
        base = 10 ** rng.uniform(-7, -3, n_rup)
        mfd_base = 10 ** rng.uniform(-6, -3, (len(sections), len(MAG_BINS)))
        cutoff = rng.integers(5, len(MAG_BINS), len(sections))
        mfd_base[np.arange(len(MAG_BINS))[None, :] >= cutoff[:, None]] = 0.0
        weights = rng.uniform(0.5, 1.5, n_br)
        merged_rate = np.zeros(n_rup)
        merged_mfd = np.zeros_like(mfd_base)
        for b, w in enumerate(weights / weights.sum()):
            rates = base * rng.lognormal(0, 0.3, n_rup)
            rates[rng.random(n_rup) < 0.02] = 0.0
            d = os.path.join(root, short, f"branch_{b}")
            _write_branch(d, sections, rup_secs, props, rates,
                          mfd_base * rng.lognormal(0, 0.3, mfd_base.shape))
            # read back what the files hold, exactly as the ETL will parse it
            merged_rate += w * pd.read_csv(os.path.join(d, api.RUPTURE_RATES_PATH))["Annual Rate"].to_numpy()
            merged_mfd += w * pd.read_csv(os.path.join(d, api.MFDS_PATH)).iloc[:, 1:].to_numpy()
            landed.setdefault(short, []).append((float(w), d))
        for sid, name, trace, p in sections:
            faults.append((system, sid, name, p["Rake"]))
            for seg, c in enumerate(planes_from_trace(
                np.asarray(trace), p["UpDepth"], p["LowDepth"], p["DipDeg"], p.get("DipDir")
            )):
                planes.append((system, sid, seg, *c[:, :2].ravel(), p["UpDepth"], p["LowDepth"]))
        for rid, secs in enumerate(rup_secs):
            ruptures.append((system, rid, float(props["Area (m^2)"][rid]), float(mag[rid]),
                             float(props["Length (m)"][rid]), float(merged_rate[rid])))
            bridge.extend((system, rid, s) for s in secs)
        for i, j in zip(*np.nonzero(merged_mfd > 0)):
            mfds.append((system, sections[i][0], MAG_BINS[j], float(merged_mfd[i, j])))
    return landed, _tables(faults, planes, ruptures, bridge, mfds)


def _tables(faults, planes, ruptures, bridge, mfds) -> dict[str, pd.DataFrame]:
    def keyed(df: pd.DataFrame, order: list[str], key: str) -> pd.DataFrame:
        df = df.sort_values(order, kind="stable").reset_index(drop=True)
        df.insert(0, key, np.arange(1, len(df) + 1, dtype="int64"))
        return df

    f = pd.DataFrame(faults, columns=["fault_system", "nshm_id", "name", "rake"])
    parent = keyed(f[["name"]].drop_duplicates(), ["name"], "parent_id")
    fault = keyed(f.merge(parent, on="name"), ["fault_system", "nshm_id"], "fault_id")
    fid = fault[["fault_system", "nshm_id", "fault_id"]]
    corner_cols = [f"{c}_{ax}" for c in _CORNERS for ax in ("lat", "lon")]
    p = pd.DataFrame(planes, columns=["fault_system", "nshm_id", "seg", *corner_cols,
                                      "top_depth", "bottom_depth"])
    plane = keyed(p.merge(fid, on=["fault_system", "nshm_id"]), ["fault_id", "seg"], "plane_id")
    r = pd.DataFrame(ruptures, columns=["fault_system", "nshm_id", "area", "magnitude", "len", "rate"])
    rupture = keyed(r, ["fault_system", "nshm_id"], "rupture_id")
    b = pd.DataFrame(bridge, columns=["fault_system", "rupture_nshm", "nshm_id"])
    b = b.merge(fid, on=["fault_system", "nshm_id"]).merge(
        rupture[["fault_system", "nshm_id", "rupture_id"]].rename(columns={"nshm_id": "rupture_nshm"}),
        on=["fault_system", "rupture_nshm"])
    rf = keyed(b[["rupture_id", "fault_id"]], ["rupture_id", "fault_id"], "rupture_fault_id")
    m = pd.DataFrame(mfds, columns=["fault_system", "nshm_id", "magnitude", "rate"]).merge(
        fid, on=["fault_system", "nshm_id"])
    mfd = keyed(m[["fault_id", "magnitude", "rate"]], ["fault_id", "magnitude"], "entry_id")
    fault["tect_type"] = pd.array([None] * len(fault), dtype="Int32")
    return {
        "parent_fault": parent[["parent_id", "name"]],
        "fault": fault[["fault_id", "nshm_id", "fault_system", "rake", "tect_type", "parent_id"]],
        "fault_plane": plane[["plane_id", *corner_cols, "top_depth", "bottom_depth", "fault_id"]],
        "rupture": rupture[["rupture_id", "fault_system", "nshm_id", "area", "magnitude", "len", "rate"]],
        "rupture_faults": rf,
        "magnitude_frequency_distribution": mfd,
    }


def revision_batches(seed: int, keys: pd.DataFrame, n_batches: int, rows: int) -> list[pd.DataFrame]:
    """Revision frames for `revise`: each updates ``rows`` distinct seeded
    (fault_system, nshm_id) keys with a new rate and revision number and
    inserts ``rows // 50`` new keys past the seeded id range."""
    rng = np.random.default_rng(seed + 1)
    next_id = int(keys["nshm_id"].max()) + 1
    out = []
    for b in range(n_batches):
        pick = keys.iloc[rng.choice(len(keys), rows, replace=False)]
        n_new = max(1, rows // 50)
        new = pd.DataFrame({
            "fault_system": rng.choice([CRUSTAL, HIKURANGI, PUYSEGUR], n_new).astype("int32"),
            "nshm_id": np.arange(next_id, next_id + n_new, dtype="int64"),
            "magnitude": rng.uniform(6.0, 9.0, n_new).round(3),
        })
        next_id += n_new
        batch = pd.concat([pick[["fault_system", "nshm_id", "magnitude"]], new], ignore_index=True)
        batch["rate"] = 10 ** rng.uniform(-7, -3, len(batch))
        batch["rev"] = np.int32(b + 1)
        out.append(batch)
    return out


_VOCAB = ("the", "fast", "key", "order", "sort", "table", "scan", "merge", "part", "window",
          "small", "hash", "join", "batch", "stream", "spark", "dup", "fault", "rupture", "rate")


def write_star(root: str, seed: int) -> None:
    """The star schema of `schemas.STAR_TABLES`, one parquet file per
    table, at about the smallest testdata scale: 1,500 orders, 6,000
    lineitems, 500 documents (a tenth of them near-copies of another, so
    dedup has work) and 500 64-d embeddings in ten clusters."""
    rng = np.random.default_rng(seed + 3)
    os.makedirs(root, exist_ok=True)

    def days(n):
        return (pd.to_datetime("1992-01-01")
                + pd.to_timedelta(rng.integers(0, 3650, n), "D")).astype("datetime64[us]")

    def money(lo, hi, n):
        return rng.uniform(lo, hi, n).round(2)

    n_ord, n_li, n_doc = 1500, 6000, 500
    docs = [" ".join(rng.choice(_VOCAB, int(rng.integers(8, 80)))) for _ in range(n_doc)]
    for i in rng.choice(n_doc, n_doc // 10, replace=False):
        words = docs[int(rng.integers(0, n_doc))].split()
        words[int(rng.integers(0, len(words)))] = str(rng.choice(_VOCAB))
        docs[i] = " ".join(words)
    centres = rng.normal(0, 1, (10, 64))
    label = rng.integers(0, 10, 500)
    tables = {
        "region": {"r_regionkey": np.arange(5, dtype="int32"),
                   "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]},
        "nation": {"n_nationkey": np.arange(25, dtype="int32"),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": (np.arange(25) % 5).astype("int32")},
        "customer": {"c_custkey": np.arange(150), "c_name": [f"Customer#{i:09d}" for i in range(150)],
                     "c_nationkey": rng.integers(0, 25, 150).astype("int32"),
                     "c_acctbal": money(-999, 9999, 150),
                     "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                                 "HOUSEHOLD", "MACHINERY"], 150)},
        "supplier": {"s_suppkey": np.arange(10), "s_name": [f"Supplier#{i:09d}" for i in range(10)],
                     "s_nationkey": rng.integers(0, 25, 10).astype("int32"),
                     "s_acctbal": money(-999, 9999, 10)},
        "part": {"p_partkey": np.arange(200),
                 "p_name": [f"{a} {b}" for a, b in zip(rng.choice(["cold", "small", "large"], 200),
                                                        rng.choice(["widget", "bolt", "gear"], 200))],
                 "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, 200)],
                 "p_type": rng.choice(["ECONOMY", "PROMO", "STANDARD"], 200),
                 "p_size": rng.integers(1, 51, 200).astype("int32"),
                 "p_retailprice": (900 + 0.1 * np.arange(200)).round(1)},
        "orders": {"o_orderkey": np.arange(n_ord), "o_custkey": rng.integers(0, 150, n_ord),
                   "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
                   "o_totalprice": money(1000, 450000, n_ord), "o_orderdate": days(n_ord),
                   "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                                  "4-NOT SPECIFIED", "5-LOW"], n_ord)},
        "lineitem": {"l_orderkey": rng.integers(0, n_ord, n_li), "l_partkey": rng.integers(0, 200, n_li),
                     "l_suppkey": rng.integers(0, 10, n_li),
                     "l_linenumber": rng.integers(1, 8, n_li).astype("int32"),
                     "l_quantity": rng.integers(1, 51, n_li).astype(float),
                     "l_extendedprice": money(900, 100000, n_li),
                     "l_discount": rng.integers(0, 11, n_li) / 100, "l_tax": rng.integers(0, 9, n_li) / 100,
                     "l_returnflag": rng.choice(["A", "N", "R"], n_li),
                     "l_linestatus": rng.choice(["F", "O"], n_li), "l_shipdate": days(n_li)},
        "documents": {"doc_id": np.arange(n_doc), "text": docs,
                      "lang": rng.choice(["en", "fr", "es", "zh", "de"], n_doc),
                      "source": [f"src{i % 20}" for i in range(n_doc)],
                      "n_chars": np.array([len(d) for d in docs])},
        "embeddings": {"vec_id": np.arange(500),
                       "embedding": list((centres[label] + rng.normal(0, 0.3, (500, 64))).astype("float32")),
                       "label": label.astype("int32")},
    }
    for name, cols in tables.items():
        t = pa.Table.from_pandas(pd.DataFrame(cols), preserve_index=False)
        pq.write_table(t, os.path.join(root, f"{name}.parquet"))
