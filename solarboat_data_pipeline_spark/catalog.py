"""CAN message catalog: can_ids*.json → per-signal decode geometry.

The reference decodes CAN payloads with runtime-generated ctypes
``LittleEndianStructure`` classes (reference ``lib/canparser_generator.py:29-54``)
driven by a JSON catalog (loader ``lib/canparser.py:36-50``). Here the same
catalog is compiled on the driver into each signal's byte offset, bit
offset, width and scale. ``operators/parse.py`` writes those, in one walk
of the catalog, into each decode plan as SQL text (a literal topic-key →
field-spec map, a name/unit array, per-column decodes), so the whole
decode stays inside whole-stage codegen (no Python on the data path).

Faithfully reproduced reference quirks (do not "fix"):

* ``bitfield`` entries are declared as 1-bit ctypes bitfields
  (``lib/canparser_generator.py:85``): only the LSB run is extracted, and
  **consecutive** bitfield entries pack into the same byte.
* ``_L``/``_H`` byte pairs fuse into one little-endian u16 named after the
  ``_L`` entry with the suffix stripped (``lib/canparser_generator.py:92-96``).
* Unit scaling (``lib/canparser_generator.py:57-75``): ``"%" → ×1/255``;
  any other non-empty unit splits on digit groups, e.g. ``"V/100" → ×1/100``
  with unit renamed ``V`` (``"%/255"`` → ×1/255, unit ``%``).
* **Units are looked up by field index, not byte index**
  (``lib/canparser.py:98-104``: ``topic["bytes"][b]`` where ``b`` enumerates
  the *fused* field list). After any u16 pair the index diverges, so e.g.
  MCC19 ``MEASUREMENTS.DT`` is scaled as ``A/100`` instead of ``%/255``.
  Reproduced under ``strict_units=True`` (default); pass ``False`` for the
  "corrected" per-byte units.
"""

from __future__ import annotations

import itertools
import json
import re
from dataclasses import dataclass, field

SEPARATOR = "__"

# ctype storage-unit size in bytes and declared bit width, keyed by the
# JSON ``type`` strings (2020 files use the short names).
_TYPE_MAP: dict[str, tuple[int, int]] = {
    "u8": (1, 8),
    "u16": (2, 16),
    "uint8_t": (1, 8),
    "uint16_t": (2, 16),
    "bitfield": (1, 1),
}


def apply_units(units: str, value: float) -> tuple[str, float]:
    """Scalar unit scaling, identical to reference ``apply_units``."""
    if units == "%":
        return units, value / 255
    if units != "":
        parts = ["".join(g) for _, g in itertools.groupby(units, key=str.isdigit)]
        scale = 1 / float(parts[1])
        return parts[0].replace("/", ""), value * scale
    return units, value


def unit_scale(units: str) -> tuple[str, float]:
    """(clean_unit, multiplier) for a schema unit string."""
    if units == "%":
        return "%", 1 / 255
    if units == "":
        return "", 1.0
    parts = ["".join(g) for _, g in itertools.groupby(units, key=str.isdigit)]
    return parts[0].replace("/", ""), 1 / float(parts[1])


@dataclass(frozen=True)
class CanSignal:
    """One decoded field of a topic payload."""

    name: str
    byte_offset: int
    bit_offset: int
    unit_size: int  # storage unit bytes (1 for u8/bitfield, 2 for u16)
    bit_width: int  # declared width (8, 16, or 1)
    raw_unit: str  # unit string used for scaling (reference indexing quirk)
    unit: str = ""
    scale: float = 1.0


@dataclass(frozen=True)
class CanTopic:
    name: str
    topic_id: int
    signals: tuple[CanSignal, ...]
    size: int
    """Expected payload length for the guard. Reference quirk: this is
    ``sum(ctypes.sizeof(field_type))`` (``lib/canparser_generator.py:112-115``),
    which **ignores bitfield packing** — a topic with two consecutive 1-bit
    bitfields (MCS19.START_STAGES) demands a 3-byte payload even though the
    decode struct is 2 bytes. Decode offsets use the real packed layout."""


@dataclass(frozen=True)
class CanModule:
    name: str
    signature: int
    topics: dict[int, CanTopic] = field(default_factory=dict)


def _layout_fields(bytes_list: list[dict | None]) -> tuple[list[tuple[dict, int, int]], int]:
    """ctypes ``LittleEndianStructure`` (_pack_=1) layout of the fused fields.

    Returns ``([(byte_entry, byte_offset, bit_offset)], struct_size)`` for each
    fused field (``_H`` skipped, ``None`` skipped), mirroring how ctypes packs
    consecutive 1-bit bitfields into a shared byte and aligns full-width
    fields to the next storage unit.
    """
    out: list[tuple[dict, int, int]] = []
    byte_off = 0
    bit_off = 0
    cur_unit = 1  # storage-unit size of the open bitfield run
    for b in bytes_list:
        if not b:
            continue
        name = b["name"]
        if name.endswith("_H"):
            continue
        unit_size, width = _TYPE_MAP[b["type"]]
        # close the open storage unit if the new field doesn't fit in it
        if bit_off > 0 and (unit_size != cur_unit or bit_off + width > cur_unit * 8):
            byte_off += cur_unit
            bit_off = 0
        cur_unit = unit_size
        out.append((b, byte_off, bit_off))
        bit_off += width
        if bit_off == unit_size * 8:
            byte_off += unit_size
            bit_off = 0
    size = byte_off + (cur_unit if bit_off > 0 else 0)
    return out, size


@dataclass(frozen=True)
class CanCatalog:
    """Parsed catalog with per-topic decode metadata."""

    version: str
    modules: dict[int, CanModule]

    @staticmethod
    def load(path: str, strict_units: bool = True) -> "CanCatalog":
        with open(path) as f:
            raw = json.load(f)
        return CanCatalog.from_dict(raw, strict_units=strict_units)

    @staticmethod
    def from_dict(raw: dict, strict_units: bool = True) -> "CanCatalog":
        modules: dict[int, CanModule] = {}
        for mod in raw["modules"]:
            topics: dict[int, CanTopic] = {}
            for top in mod["topics"]:
                bytes_list = top["bytes"]
                layout, _packed_size = _layout_fields(bytes_list)
                # guard length = sum of storage-unit sizes, ignoring packing
                size = sum(_TYPE_MAP[b["type"]][0] for b, _, _ in layout)
                signals = []
                for fi, (b, byte_off, bit_off) in enumerate(layout):
                    name = b["name"]
                    if name.endswith("_L"):
                        name = name[:-2]
                    if strict_units:
                        # reference quirk: unit from bytes[field_index]
                        ub = bytes_list[fi] if fi < len(bytes_list) else None
                        raw_unit = ub["units"] if ub else ""
                    else:
                        raw_unit = b["units"]
                    unit, scale = unit_scale(raw_unit)
                    unit_size, width = _TYPE_MAP[b["type"]]
                    signals.append(
                        CanSignal(
                            name=name,
                            byte_offset=byte_off,
                            bit_offset=bit_off,
                            unit_size=unit_size,
                            bit_width=width,
                            raw_unit=raw_unit,
                            unit=unit,
                            scale=scale,
                        )
                    )
                topics[int(top["id"])] = CanTopic(
                    name=top["name"], topic_id=int(top["id"]), signals=tuple(signals), size=size
                )
            modules[int(mod["signature"])] = CanModule(
                name=mod["name"], signature=int(mod["signature"]), topics=topics
            )
        return CanCatalog(version=str(raw.get("version", "")), modules=modules)

    def wide_columns(self) -> list[str]:
        """All output column names, ``MODULE__TOPIC__SIGNAL``, schema order."""
        cols = []
        for sig in sorted(self.modules):
            mod = self.modules[sig]
            for tid in sorted(mod.topics):
                top = mod.topics[tid]
                for s in top.signals:
                    cols.append(SEPARATOR.join([mod.name, top.name, s.name]))
        return cols

    def iter_topics(self):
        for sig in sorted(self.modules):
            mod = self.modules[sig]
            for tid in sorted(mod.topics):
                yield mod, mod.topics[tid]


def sanitize_column(name: str) -> str:
    """Make a wide column name parquet-safe (keeps reference names as-is
    unless they contain forbidden characters)."""
    return re.sub(r"[ ,;{}()\n\t=]", "_", name)
