"""The benchmark's metric catalog, ``(name, unit)`` pairs read from
BENCHMARK.json at the root of the checkout.  Every run prints every
end-to-end metric (``--trace 0``) or every per-layer metric
(``--trace 1``).  A workload that never calls a layer reports that
layer's metrics as 0: it spent no time there.
"""

from __future__ import annotations

import json
import os


def _catalog(kind: str) -> list[tuple[str, str]]:
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "BENCHMARK.json")
    with open(path) as fh:
        spec = json.load(fh)
    return [(m["name"], m["unit"]) for m in spec[kind]]


END_TO_END = _catalog("end_to_end")
PER_LAYER = _catalog("per_layer")


def complete(measured: dict[str, tuple[float, str]], trace: bool) -> dict:
    """Every catalog metric of the run's kind, in catalog order.  A
    per-layer metric the workload did not measure is 0; an end-to-end
    one must be measured.  Names outside the catalog are an error."""
    catalog = PER_LAYER if trace else END_TO_END
    names = {n for n, _ in catalog}
    extra = set(measured) - names
    if extra:
        raise ValueError(f"metrics outside the catalog: {sorted(extra)}")
    out = {}
    for name, unit in catalog:
        if name in measured:
            value, got_unit = measured[name]
            if got_unit != unit:
                raise ValueError(f"{name}: unit {got_unit!r}, catalog says {unit!r}")
            out[name] = (value, unit)
        elif trace:
            out[name] = (0.0, unit)
        else:
            raise ValueError(f"end-to-end metric {name} was not measured")
    return out
