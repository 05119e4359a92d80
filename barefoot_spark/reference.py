"""Sample files from a checkout of the reference (barefoot) sources.

A few tests and the ``x0001_match`` entry read the reference's own test
resources (the Munich x0001 GPS traces, the NYC taxi CSV). They are not
part of this repository: the checkout is found at
``$BAREFOOT_REFERENCE_DIR``, or else in a directory ``reference`` next to
this repository's root.
"""

from __future__ import annotations

import os

_RESOURCES = "src/test/resources/com/bmwcarit/barefoot"


class FixtureMissing(FileNotFoundError):
    """A reference sample file is not on this host."""


def reference_dir() -> str:
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    return os.environ.get("BAREFOOT_REFERENCE_DIR",
                          os.path.join(os.path.dirname(root), "reference"))


def reference_file(name: str) -> str:
    """Path of test resource ``name`` (e.g. ``matcher/x0001-015.json``);
    raises FixtureMissing, naming the file, when it is absent."""
    path = os.path.join(reference_dir(), _RESOURCES, name)
    if not os.path.isfile(path):
        raise FixtureMissing(
            f"reference fixture {path} not found (set BAREFOOT_REFERENCE_DIR "
            "to a checkout of the reference sources)")
    return path
