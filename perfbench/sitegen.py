"""Seeded niamoto project generator for the ``site_*`` workloads.

A project is the ``examples/config`` YAML (import / transform / export)
and the provinces layer, next to a generated ``occurrences.csv`` and
``plots.csv`` of the same columns.  The taxonomy is a consistent
family -> genus -> species tree: every genus sits under one family, every
species under one genus, and every name is unique, so a taxon's subtree
is exactly the occurrences carrying its name at its rank.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass

import numpy as np

EXAMPLE_FILES = ("import.yml", "transform.yml", "export.yml", "provinces.gpkg")


@dataclass(frozen=True)
class SiteShape:
    occurrences: int
    plots: int
    families: int
    genera: int
    species: int


SMALL = SiteShape(occurrences=300, plots=5, families=3, genera=6, species=21)
LARGE = SiteShape(occurrences=500_000, plots=300, families=30, genera=300,
                  species=3000)


def make_project(dest: str, shape: SiteShape, seed: int,
                 example_dir: str = "examples/config") -> str:
    """Write a project for ``shape`` under ``dest`` (replaced) and return it."""
    shutil.rmtree(dest, ignore_errors=True)
    os.makedirs(dest)
    for name in EXAMPLE_FILES:
        shutil.copyfile(os.path.join(example_dir, name),
                        os.path.join(dest, name))
    rng = np.random.default_rng(seed)

    # genus g belongs to family g % families, species s to genus
    # s % genera: every parent gets children and names never repeat
    fam_names = np.array([f"Fam{f:03d}aceae" for f in range(shape.families)])
    gen_names = np.array([f"Gen{g:04d}" for g in range(shape.genera)])
    sp_names = np.array([f"sp{s:05d}" for s in range(shape.species)])

    n = shape.occurrences
    # Zipf-like species abundance, the shape of real inventory data
    weights = 1.0 / np.arange(1, shape.species + 1) ** 0.8
    sp = rng.choice(shape.species, size=n, p=weights / weights.sum())
    gen = sp % shape.genera
    fam = gen % shape.families
    # every plot holds at least one occurrence
    plot = rng.integers(1, shape.plots + 1, size=n)
    plot[:shape.plots] = np.arange(1, shape.plots + 1)
    # dbh in cm, one decimal, a long right tail past the last bin edge
    dbh = np.round(np.clip(rng.lognormal(3.1, 0.65, size=n), 1.0, 400.0), 1)
    in_um = rng.integers(0, 2, size=n)
    holdridge = rng.integers(1, 4, size=n)

    with open(os.path.join(dest, "occurrences.csv"), "w") as f:
        f.write("id,plot_name,family,genus,species,dbh,in_um,holdridge\n")
        f.writelines(
            f"{i + 1},P{p},{a},{b},{c},{d},{u},{h}\n"
            for i, (p, a, b, c, d, u, h) in enumerate(zip(
                plot.tolist(), fam_names[fam].tolist(),
                gen_names[gen].tolist(), sp_names[sp].tolist(),
                dbh.tolist(), in_um.tolist(), holdridge.tolist())))
    elevation = np.round(rng.uniform(20.0, 1600.0, size=shape.plots), 1)
    with open(os.path.join(dest, "plots.csv"), "w") as f:
        f.write("id_plot,plot,locality,elevation\n")
        f.writelines(f"{k},Plot {k},P{k},{e}\n"
                     for k, e in enumerate(elevation.tolist(), start=1))
    return dest
