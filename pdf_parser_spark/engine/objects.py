"""PDF object model as plain Python values.

The reference models PDF objects as a recursive Rust enum
(/root/reference/src/types/object.rs:18-32).  Here the mapping is
idiomatic Python — no wrapper classes in the hot path:

==============  =======================
PDF object      Python value
==============  =======================
Null            :data:`NULL` sentinel
Bool            ``bool``
Int             ``int``
Real            ``float``
String          ``bytes``
Name            :class:`Name` (``str`` subclass)
Array           ``list``
Dict            ``dict`` (str keys)
Stream          :class:`Stream`
Ref             :class:`Ref`
==============  =======================

``bytes`` vs :class:`Name` disambiguates strings from names; ``bool``
is checked before ``int`` wherever it matters (``isinstance(True, int)``
is true in Python).
"""

from __future__ import annotations

from typing import NamedTuple


class _Null:
    """Singleton for PDF ``null`` (distinct from a missing dict key)."""

    __slots__ = ()
    _instance = None

    def __new__(cls):
        if cls._instance is None:
            cls._instance = super().__new__(cls)
        return cls._instance

    def __repr__(self) -> str:
        return "NULL"

    def __bool__(self) -> bool:
        return False


NULL = _Null()


class Name(str):
    """A PDF name (``/Type``).  A ``str`` subclass so dict keys and
    comparisons stay natural while remaining distinguishable from
    decoded strings."""

    __slots__ = ()

    def __repr__(self) -> str:  # pragma: no cover - debug aid
        return f"/{str.__str__(self)}"


class Ref(NamedTuple):
    """Indirect object reference ``num gen R``
    (reference: types/object.rs:5-8)."""

    num: int
    gen: int


class Stream(NamedTuple):
    """A stream object: dict header + raw (undecoded) payload
    (reference: types/object.rs:27-30)."""

    dict: dict
    data: bytes


def as_int(obj) -> int | None:
    """Integer accessor (reference: types/object.rs ``as_int``)."""
    if isinstance(obj, bool):
        return None
    return obj if isinstance(obj, int) else None


def as_name(obj) -> str | None:
    return str(obj) if isinstance(obj, Name) else None


def as_dict(obj) -> dict | None:
    if isinstance(obj, Stream):
        return obj.dict
    return obj if isinstance(obj, dict) else None


def as_array(obj) -> list | None:
    return obj if isinstance(obj, list) else None


def as_ref(obj) -> Ref | None:
    return obj if isinstance(obj, Ref) else None
