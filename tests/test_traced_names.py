"""The benchmark's traced run (``perfbench/run.py --trace 1``) wraps program
names by attribute.  A refactor that removes or bypasses one breaks the
traced run, which only ``python -m pytest perfbench`` (slow subprocesses)
would otherwise notice."""

import os

import numpy as np
import pytest

PERFBENCH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                         "perfbench")


@pytest.fixture
def perfbench(monkeypatch):
    monkeypatch.syspath_prepend(PERFBENCH)
    import run
    import spans
    import workloads

    return run, spans, workloads


class _Names:
    def __init__(self):
        self.wrapped = []

    def wrap(self, owner, attr, name, counts=None):
        self.wrapped.append((owner, attr))


def test_every_wrapped_name_exists(perfbench):
    """The wrapper reads a class attribute from the class's own
    ``__dict__`` and a module attribute with ``getattr``."""
    run, _, workloads = perfbench
    names = _Names()
    workloads.install_layer_wrappers(names)
    run.install_driver_wrappers(names)
    missing = [(getattr(owner, "__name__", owner), attr) for owner, attr in names.wrapped
               if not (attr in owner.__dict__ if isinstance(owner, type)
                       else hasattr(owner, attr))]
    assert names.wrapped and not missing


def test_wrapped_serde_names_stay_on_the_call_path(perfbench, monkeypatch):
    """The driver fold decodes through ``build.deserialize_filter``, a probe
    loads its filter through ``membership._get_filter`` and
    ``membership.deserialize_filter``, and ``cf_contains_udf`` serializes
    through ``membership.serialize_filter``."""
    run, spans, workloads = perfbench
    from cuckoofilter_spark.core.serde import serialize_filter
    from cuckoofilter_spark.operators import build, membership
    from cuckoofilter_spark.params import CuckooParams

    filt = build.new_filter(CuckooParams(max_table_size=1024, bits_per_fp=16))(0)
    filt.update(np.arange(1_000))
    blob = serialize_filter(filt)
    monkeypatch.setattr(membership, "_probe_udf", lambda *a: None)
    tracer = spans.Tracer()
    try:
        workloads.install_layer_wrappers(tracer)
        run.install_driver_wrappers(tracer)
        build._fold_blobs([0], [blob])
        membership._FILTER_CACHE.clear()
        membership._get_filter(blob)
        membership.cf_contains_udf(None, filt)
    finally:
        tracer.restore()
        membership._FILTER_CACHE.clear()
    names = [s["name"] for s in tracer.spans]
    assert "driver.fold" in names
    assert "operators.membership.get_filter" in names
    assert "core.serde.deserialize" in names
    assert "driver.serialize" in names
