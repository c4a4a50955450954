"""The benchmark's traced run (perfbench/layertrace.py) wraps every
(module, attribute) of its LAYERS table; a name that no longer resolves
breaks `perfbench/run.py --trace 1`. This keeps renames and deletions in
wbkg from doing that silently."""

import importlib
import os
import sys

PERFBENCH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench")


def test_every_traced_name_resolves():
    sys.path.insert(0, PERFBENCH)
    try:
        from layertrace import LAYERS
    finally:
        sys.path.remove(PERFBENCH)

    missing = []
    for layer, targets in LAYERS.items():
        for mod_name, attr in targets:
            obj = importlib.import_module(mod_name)
            for part in attr.split("."):
                obj = getattr(obj, part, None)
            if not callable(obj):
                missing.append(f"{layer}: {mod_name}.{attr}")
    assert not missing, missing
