"""Registry layout: every query lives in the module named for its
operator family, so a query is found by its name prefix alone."""

from __future__ import annotations

import os
import re

from com_danliris_service_etl_spark.plans.registry import load_all

PLANS = "com_danliris_service_etl_spark.plans"

FAMILY_PREFIXES = {
    "relational": ("p", "o", "u", "e"),
    "scalars": ("d", "m", "t", "x"),
    "aggregates": ("a",),
    "joins": ("j",),
    "windows": ("w",),
    "warehouse": ("s",),
    "quality": ("q", "pv"),
    "sketches": ("sk",),
    "streaming": ("st",),
    "graph": ("g",),
    "text": ("txt",),
    "dedup": ("dd",),
    "similarity": ("sim",),
    "llm": ("llm", "pk", "mm"),
}
MODULE_OF_PREFIX = {
    p: f"{PLANS}.queries_{fam}" for fam, ps in FAMILY_PREFIXES.items() for p in ps
}


def test_every_query_is_registered_by_its_family_module():
    misplaced = {}
    for name, (fn, _) in load_all().items():
        prefix = re.match(r"[a-z]+", name).group(0)
        want = MODULE_OF_PREFIX.get(prefix)
        if fn.__module__ != want:
            misplaced[name] = (fn.__module__, want)
    assert not misplaced, misplaced


def test_plans_has_exactly_the_family_modules():
    import com_danliris_service_etl_spark.plans as plans

    query_modules = sorted(
        f[: -len(".py")]
        for f in os.listdir(os.path.dirname(plans.__file__))
        if f.startswith("queries") and f.endswith(".py")
    )
    assert not [m for m in query_modules if m.startswith("queries_round")]
    assert query_modules == sorted(f"queries_{fam}" for fam in FAMILY_PREFIXES)
