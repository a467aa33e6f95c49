"""Every annotation in the package resolves.

Modules use ``from __future__ import annotations``, so a hint naming a type
the module never imports still imports cleanly and only fails when
something evaluates it (``typing.get_type_hints``, pydantic, docs tools).
This walks every module, function and method defined in the package and
evaluates their hints.
"""

from __future__ import annotations

import importlib
import inspect
import pkgutil
import typing

import nlp_to_nosql_spark


def _defined_callables():
    for info in pkgutil.walk_packages(
        nlp_to_nosql_spark.__path__, prefix="nlp_to_nosql_spark."
    ):
        mod = importlib.import_module(info.name)
        for name, obj in vars(mod).items():
            if getattr(obj, "__module__", None) != mod.__name__:
                continue
            if inspect.isfunction(obj):
                yield f"{mod.__name__}.{name}", obj
            elif inspect.isclass(obj):
                for attr, member in vars(obj).items():
                    if isinstance(member, (staticmethod, classmethod)):
                        member = member.__func__
                    if inspect.isfunction(member):
                        yield f"{mod.__name__}.{name}.{attr}", member


def test_every_annotation_resolves():
    checked, failures = 0, []
    for qualname, fn in _defined_callables():
        checked += 1
        try:
            typing.get_type_hints(fn)
        except Exception as exc:  # noqa: BLE001 — collect every failure
            failures.append(f"{qualname}: {type(exc).__name__}: {exc}")
    assert checked > 400
    assert not failures, "\n".join(failures)
