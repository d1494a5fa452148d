"""The benchmark's ``--trace 1`` run wraps package functions by name
(perfbench/tracer.py). Installing and removing those wrappers against the
package pins the names: renaming a traced hook fails here instead of
silently breaking the traced benchmark run. No Spark session is needed."""

import os
import sys

PERFBENCH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench"
)


def test_tracer_installs_and_uninstalls_every_hook():
    sys.path.insert(0, PERFBENCH)
    try:
        from tracer import Tracer
    finally:
        sys.path.remove(PERFBENCH)

    tracer = Tracer()
    tracer.install()
    try:
        hooks = list(tracer._undo)
        assert hooks
        for owner, attr, raw in hooks:
            assert owner.__dict__[attr] is not raw, (owner, attr)
    finally:
        tracer.uninstall()
    for owner, attr, raw in hooks:
        assert owner.__dict__[attr] is raw, (owner, attr)
