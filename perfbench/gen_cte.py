#!/usr/bin/env python3
"""Seeded generator of CTE-monitor inputs: fileinfo and long-format phot.

Three targets (globular and open clusters, as in the monitor). Each
visit of a target is one chip-1/chip-2 image pair that agrees on the
8 pair keys (proposid, dateobs, filter, exptime, chinject, flashlvl,
ctecorr, postarg1). Each image holds `stars` stars x 14 apertures. The
chip-1/chip-2 background-subtracted flux ratio is planted as
1 + slope * ypos + noise, with a slope that drifts with dateobs, and the
fluxes span all 8 flux bins, so the pipeline's per-bin regressions have a
known answer.

    python3 perfbench/gen_cte.py --out DIR --seed 1 --visits 6 \
        --base-visits 4 --stars 600

Writes DIR/<target>/v<NNN>/{fileinfo,phot}.parquet per visit and
DIR/manifest.json (visits with their directories relative to DIR,
planted slopes, row counts and input bytes). Visits below
--base-visits form the base warehouse; the rest are ingested one at a
time during a benchmark pass.
"""
import argparse
import datetime
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

APERTURES = [2, 3, 5, 7, 10, 12, 15, 18, 20, 24, 28, 32, 36, 40]
TARGETS = ["NGC104", "NGC6791", "NGC6583"]
NOISE = 0.002
FLUX_LO, FLUX_HI = 260.0, 31000.0


def planted_slope(dateobs):
    """Ratio slope per pixel of chip-2 y position, drifting with time."""
    return 2e-5 * (1.0 + (dateobs - 55000.0) / 1000.0)


def fileinfo_rows(target, img, chip, dateobs, exptime, flashlvl):
    strings = {
        "imagename": img, "imagepath": f"/data/{img}", "coofile": f"{img}.coo",
        "magfile": f"{img}.mag", "photpath": "/phot", "parsed_name": img,
        "proposid": "11924", "filter": "F502N", "chinject": "NONE",
        "flashcur": "ZERO" if flashlvl == 0 else "LOW", "shutrpos": "A"}
    cols = {k: pa.array([v], pa.string()) for k, v in strings.items()}
    cols["ingest_date"] = pa.array([datetime.date(2026, 1, 1)], pa.date32())
    doubles = {
        "ra_lowerleft": 6.0, "dec_lowerleft": -72.1, "ra_lowerright": 6.1,
        "dec_lowerright": -72.1, "ra_upperright": 6.1, "dec_upperright": -72.0,
        "ra_upperleft": 6.0, "dec_upperleft": -72.0, "mnclip_bkgrd": 3.5,
        "dateobs": dateobs, "exptime": exptime, "flashlvl": flashlvl,
        "flashdur": 0.0, "postarg1": 0.0, "postarg2": 0.0}
    cols.update({k: pa.array([float(v)], pa.float64()) for k, v in doubles.items()})
    cols["ctecorr"] = pa.array([0], pa.int32())
    cols["chip"] = pa.array([chip], pa.int32())
    cols["targname"] = pa.array([target], pa.string())
    return pa.table(cols)


def phot_rows(rng, target, img1, img2, stars, slope):
    """Both images' phot: stars x apertures rows each."""
    n_ap = len(APERTURES)
    base = np.exp(rng.uniform(np.log(FLUX_LO), np.log(FLUX_HI), stars))
    ypos = rng.uniform(0.0, 2048.0, stars)
    xpos = rng.uniform(0.0, 4096.0, stars)
    ap = np.tile(np.array(APERTURES, dtype=np.int32), stars)
    star = np.repeat(np.arange(1, stars + 1, dtype=np.int32), n_ap)
    y = np.repeat(ypos, n_ap)
    x = np.repeat(xpos, n_ap)
    clean2 = np.repeat(base, n_ap) * (0.55 + 0.45 * ap / 40.0)
    ratio = 1.0 + slope * y + rng.normal(0.0, NOISE, stars * n_ap)
    clean1 = clean2 * ratio
    bkg = 20.0 + 2.0 * ap
    n = stars * n_ap

    def image(img, clean, ypix):
        return {
            "find_id": pa.array(star, pa.int32()),
            "imagename": pa.array([img] * n, pa.string()),
            "ingest_date": pa.array([datetime.date(2026, 1, 1)] * n, pa.date32()),
            "xpix": x, "ypix": ypix,
            "ra": 6.0 + x / 40960.0, "dec": -72.1 + y / 20480.0,
            "master_id": pa.array(star, pa.int32()),
            "aperture": pa.array(ap, pa.int32()),
            "flux": clean + bkg,
            "mnbkgrd": bkg / (np.pi * ap * ap),
            "totbkgrd": bkg,
            "targname": pa.array([target] * n, pa.string())}

    t1 = pa.table(image(img1, clean1, y + 2048.0))
    t2 = pa.table(image(img2, clean2, y))
    return pa.concat_tables([t1, t2])


def generate(out, seed, visits, base_visits, stars):
    if not 1 <= base_visits < visits:
        raise SystemExit("--base-visits must be 1..--visits - 1")
    rng = np.random.default_rng(seed)
    entries = []
    for ti, target in enumerate(TARGETS):
        letter = "abc"[ti]
        for v in range(visits):
            dateobs = 55000.0 + 40.0 * v
            exptime = 60.0 if v % 2 == 0 else 420.0
            flashlvl = [0.0, 6.0, 12.0][v % 3]
            img1, img2 = f"i{letter}{v:05d}1q", f"i{letter}{v:05d}2q"
            slope = planted_slope(dateobs)
            rel = os.path.join(target, f"v{v:03d}")
            vdir = os.path.join(out, rel)
            os.makedirs(vdir, exist_ok=True)
            fi = pa.concat_tables([
                fileinfo_rows(target, img1, 1, dateobs, exptime, flashlvl),
                fileinfo_rows(target, img2, 2, dateobs, exptime, flashlvl)])
            ph = phot_rows(rng, target, img1, img2, stars, slope)
            sizes = {}
            for name, table in (("fileinfo", fi), ("phot", ph)):
                path = os.path.join(vdir, f"{name}.parquet")
                pq.write_table(table, path, compression="snappy")
                sizes[name] = os.path.getsize(path)
            entries.append({
                "target": target, "visit": v, "dir": rel, "base": v < base_visits,
                "imagename_1": img1, "imagename_2": img2, "dateobs": dateobs,
                "slope": slope, "fileinfo_rows": fi.num_rows, "phot_rows": ph.num_rows,
                "bytes": sizes["fileinfo"] + sizes["phot"]})
    manifest = {"seed": seed, "targets": TARGETS, "stars": stars,
                "apertures": APERTURES, "visits": entries}
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--out", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--visits", type=int, required=True,
                    help="visits per target, base included")
    ap.add_argument("--base-visits", type=int, required=True,
                    help="visits per target bulk-loaded before the passes")
    ap.add_argument("--stars", type=int, required=True)
    a = ap.parse_args()
    generate(a.out, a.seed, a.visits, a.base_visits, a.stars)


if __name__ == "__main__":
    main()
