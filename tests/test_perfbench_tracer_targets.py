"""The benchmark's span tracer (perfbench/tracer.py) wraps server,
store, commit-log, tag-index and Bloom-probe entry points by name. A
renamed or removed target would only fail when a traced benchmark run
installs the wrappers; this Spark-free check fails at once instead."""

import importlib
import importlib.util
import inspect
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _tracer_module():
    spec = importlib.util.spec_from_file_location(
        "perfbench_tracer", os.path.join(ROOT, "perfbench", "tracer.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_every_wrapped_target_resolves():
    wrapped = _tracer_module().WRAPPED
    assert wrapped
    for name, modname, owner_name, attr in wrapped:
        mod = importlib.import_module(modname)
        owner = getattr(mod, owner_name) if owner_name else mod
        target = inspect.getattr_static(owner, attr)  # AttributeError if renamed
        assert callable(target), (name, modname, owner_name, attr)
