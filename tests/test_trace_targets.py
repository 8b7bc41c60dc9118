"""The benchmark's traced run (``cdcbench --trace 1``) wraps package
functions by name, looking each one up in its module's or class's
``__dict__``: every target its ``_PATCHES`` list names must resolve there,
or the traced run raises ``KeyError``."""

from __future__ import annotations

import importlib
import importlib.util
import os

LAYERS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                      "cdcbench", "layers.py")


def test_every_trace_patch_target_resolves():
    spec = importlib.util.spec_from_file_location("cdcbench_layers", LAYERS)
    layers = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(layers)
    assert layers._PATCHES
    for target, attr, _span in layers._PATCHES:
        mod_name, _, cls = target.partition(":")
        owner = importlib.import_module(mod_name)
        if cls:
            owner = getattr(owner, cls)
        assert callable(owner.__dict__.get(attr)), f"{target} has no {attr}"
