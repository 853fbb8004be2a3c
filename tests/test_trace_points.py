"""The traced benchmark run wraps each ``perfbench/tracing.py:TRACE_POINTS``
entry where it is looked up (``obj.__dict__[attr]``). A change that removes
or moves a traced function must fail here, not only under ``--trace 1``."""

import importlib
from pathlib import Path

PERFBENCH = Path(__file__).resolve().parent.parent / "perfbench"


def test_every_trace_point_resolves(monkeypatch):
    # perfbench's modules import each other by bare name (run.py puts the
    # directory on sys.path)
    monkeypatch.syspath_prepend(str(PERFBENCH))
    tracing = importlib.import_module("tracing")
    assert tracing.TRACE_POINTS
    missing = [
        span for obj, attr, span in tracing.TRACE_POINTS if attr not in vars(obj)
    ]
    assert not missing, missing
