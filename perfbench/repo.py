"""Location of the engine sources the benchmark drives."""

from __future__ import annotations

import importlib.util
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def engine_present() -> bool:
    return os.path.isfile(os.path.join(ROOT, "spark_on_hbase_spark", "table.py"))


def load_script(name: str):
    """Import ``scripts/<name>.py`` (not a package) by path."""
    spec = importlib.util.spec_from_file_location(name, os.path.join(ROOT, "scripts", f"{name}.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod
