"""Placeholder-template tokenizer.

The reference expands ``${...}`` placeholders per event with a regex
``gsub`` over a per-event dict (``core.rb:228-240`` /
``core.rb:199-222``). Here the template is tokenized ONCE at spec
compile time into typed tokens; each token later resolves to a Spark
``Column`` expression (see :mod:`.compiler`) so that no per-row Python
ever runs in the hot path.

Supported placeholder grammar (reference ``core.rb:199-222`` +
``README.md:132-160``):

- ``${tag}``                      event tag (routing key)
- ``${tags[N]}`` / ``${tag_parts[N]}``  Nth dot-separated tag part,
  negative N counts from the end (``core.rb:207``)
- ``${tag_prefix[N]}``            cumulative prefixes ``["a","a.b",...]``
  (``core.rb:163-170``), negative N supported
- ``${tag_suffix[N]}``            cumulative suffixes ``["a.b.c","b.c","c"]``
  (``core.rb:172-180``), negative N supported
- ``${time}``                     event time (``core.rb:191-193``)
- ``${hostname}``                 driver hostname constant (``core.rb:82``)
- ``${record["key"]}`` / ``${record['key']}``  record field, any key
  (dots, ``@`` allowed — test ``:513-533``)
- ``${record["key"][N]}``         array-field element (extension;
  negative N supported, mirrors the reference's negative indexing rule)
- ``${key}``                      legacy bare record-field access —
  reserved names shadow record keys (``core.rb:211``, test ``:317-338``)
- ``__UPPER__`` tokens are recognized and resolve as unknown (the
  reference's dict never contains them either).

Unknown placeholders expand to ``""`` with a warning
(``core.rb:244-248``).
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from typing import Optional, Union

# Same token alternation the reference gsubs on (core.rb:236).
PLACEHOLDER_RE = re.compile(r"(\$\{[^}]+\}|__[A-Z_]+__)")

RESERVED_KEYS = frozenset(
    {"tag", "tags", "tag_parts", "tag_prefix", "tag_suffix", "hostname", "time", "record"}
)


@dataclass(frozen=True)
class Literal:
    text: str


@dataclass(frozen=True)
class TagRef:
    """``${tag}``"""


@dataclass(frozen=True)
class TagPartRef:
    """``${tag_parts[N]}`` / ``${tags[N]}``; negative index from end."""

    index: int


@dataclass(frozen=True)
class TagAffixRef:
    """``${tag_prefix[N]}`` / ``${tag_suffix[N]}``."""

    kind: str  # "prefix" | "suffix"
    index: int


@dataclass(frozen=True)
class TimeRef:
    """``${time}``"""


@dataclass(frozen=True)
class HostnameRef:
    """``${hostname}``"""


@dataclass(frozen=True)
class RecordRef:
    """``${record["key"]}`` or legacy ``${key}``; optional array index."""

    key: str
    index: Optional[int] = None
    explicit: bool = False  # True for ${record[...]} form (bypasses shadowing)


@dataclass(frozen=True)
class UnknownRef:
    """A placeholder that cannot resolve → "" + warning (core.rb:244-248)."""

    raw: str


Token = Union[Literal, TagRef, TagPartRef, TagAffixRef, TimeRef, HostnameRef, RecordRef, UnknownRef]

_INDEXED_RE = re.compile(r"\A(tags|tag_parts|tag_prefix|tag_suffix)\[(-?\d+)\]\Z")
_RECORD_RE = re.compile(
    r"""\Arecord\[(?:"(?P<dk>[^"]+)"|'(?P<sk>[^']+)')\](?:\[(?P<idx>-?\d+)\])?\Z"""
)
_BARE_INDEXED_RE = re.compile(r"\A(?P<key>[^\[\]]+)\[(?P<idx>-?\d+)\]\Z")


def parse_placeholder(body: str) -> Token:
    """Parse the inside of one ``${...}`` into a typed token."""
    if body == "tag":
        return TagRef()
    if body == "time":
        return TimeRef()
    if body == "hostname":
        return HostnameRef()

    m = _INDEXED_RE.match(body)
    if m:
        name, idx = m.group(1), int(m.group(2))
        if name in ("tags", "tag_parts"):
            return TagPartRef(idx)
        return TagAffixRef(name.removeprefix("tag_"), idx)

    m = _RECORD_RE.match(body)
    if m:
        key = m.group("dk") if m.group("dk") is not None else m.group("sk")
        idx = m.group("idx")
        return RecordRef(key, int(idx) if idx is not None else None, explicit=True)

    # Bare names that collide with reserved keys never resolve to record
    # fields (core.rb:211); un-indexed array reserved names are unknown
    # (the reference dict only stores indexed entries for arrays).
    if body in RESERVED_KEYS:
        return UnknownRef("${%s}" % body)

    m = _BARE_INDEXED_RE.match(body)
    if m and m.group("key") not in RESERVED_KEYS:
        return RecordRef(m.group("key"), int(m.group("idx")), explicit=False)

    return RecordRef(body, None, explicit=False)


def tokenize(template: str) -> list[Token]:
    """Split a template string into Literal / placeholder tokens."""
    tokens: list[Token] = []
    pos = 0
    for m in PLACEHOLDER_RE.finditer(template):
        if m.start() > pos:
            tokens.append(Literal(template[pos : m.start()]))
        raw = m.group(1)
        if raw.startswith("${"):
            tokens.append(parse_placeholder(raw[2:-1]))
        else:  # __UPPER__ legacy form: never populated by the reference either
            tokens.append(UnknownRef(raw))
        pos = m.end()
    if pos < len(template):
        tokens.append(Literal(template[pos:]))
    return tokens

