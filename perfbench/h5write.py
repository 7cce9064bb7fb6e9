"""A small NeXus-shaped HDF5 writer for benchmark inputs.

Writes the subset of the HDF5 file format that ``sources.hdf5lite``
reads: a version 0 superblock, version 1 object headers, groups as
compact link messages, and compact datasets of fixed-length strings,
64-bit integers and 64-bit floats with an optional ``units`` attribute.
Layouts follow the public HDF5 File Format Specification. Every object
is written before the group that links to it, so each link can name its
target's address; the root group is written last and the superblock is
patched to point at it.

A tree is a dict: a key maps to a nested dict (a group) or to a
``Value`` (a dataset).
"""

from __future__ import annotations

import struct
from dataclasses import dataclass

UNDEF = 0xFFFFFFFFFFFFFFFF
SIGNATURE = b"\x89HDF\r\n\x1a\n"
SUPERBLOCK_SIZE = 96


@dataclass(frozen=True)
class Value:
    data: str | int | float
    units: str | None = None


def _pad8(b: bytes) -> bytes:
    return b + b"\x00" * (-len(b) % 8)


def _dtype(data) -> tuple[bytes, bytes]:
    """(datatype message body, raw element bytes) for one scalar."""
    if isinstance(data, str):
        raw = data.encode("utf-8") + b"\x00"
        # class 3 string, version 1; null-terminated, UTF-8 charset
        return struct.pack("<BBBBI", 0x13, 0x10, 0, 0, len(raw)), raw
    if isinstance(data, bool) or not isinstance(data, (int, float)):
        raise TypeError(f"unsupported dataset value {data!r}")
    if isinstance(data, int):
        # class 0 fixed-point, little-endian, signed; offset 0, 64 bits
        return struct.pack("<BBBBIHH", 0x10, 0x08, 0, 0, 8, 0, 64), struct.pack("<q", data)
    # class 1 IEEE double: implied-msb mantissa, sign bit 63, exponent
    # at bit 52 (11 bits), mantissa at bit 0 (52 bits), bias 1023
    body = struct.pack("<BBBBIHHBBBBI", 0x11, 0x20, 63, 0, 8, 0, 64, 52, 11, 0, 52, 1023)
    return body, struct.pack("<d", data)


# version 1 dataspace of rank 0: a scalar
_SCALAR_SPACE = struct.pack("<BBBBI", 1, 0, 0, 0, 0)


def _message(mtype: int, body: bytes) -> bytes:
    body = _pad8(body)
    return struct.pack("<HHB3x", mtype, len(body), 0) + body


def _attribute(name: str, text: str) -> bytes:
    dt, raw = _dtype(text)
    bname = name.encode("utf-8") + b"\x00"
    head = struct.pack("<BBHHH", 1, 0, len(bname), len(dt), len(_SCALAR_SPACE))
    return _message(0x0C, head + _pad8(bname) + _pad8(dt) + _pad8(_SCALAR_SPACE) + raw)


def _link(name: str, addr: int) -> bytes:
    bname = name.encode("utf-8")
    if len(bname) > 255:
        raise ValueError(f"link name too long: {name!r}")
    # version 1, flags 0: one-byte name length, hard link, ASCII/UTF-8 name
    return _message(0x06, struct.pack("<BBB", 1, 0, len(bname)) + bname + struct.pack("<Q", addr))


def _object_header(messages: list[bytes]) -> bytes:
    body = b"".join(messages)
    return struct.pack("<BBHII4x", 1, 0, len(messages), 1, len(body)) + body


def _dataset(value: Value) -> bytes:
    dt, raw = _dtype(value.data)
    if len(raw) > 0xFFFF:
        raise ValueError("compact dataset larger than 64 KiB")
    msgs = [
        _message(0x01, _SCALAR_SPACE),
        _message(0x03, dt),
        # layout message version 3, class 0 (compact): size + raw data
        _message(0x08, struct.pack("<BBH", 3, 0, len(raw)) + raw),
    ]
    if value.units is not None:
        msgs.append(_attribute("units", value.units))
    return _object_header(msgs)


def encode(tree: dict) -> bytes:
    """Serialise a tree into the bytes of one HDF5 file."""
    out = bytearray(SUPERBLOCK_SIZE)

    def put(obj: bytes) -> int:
        addr = len(out)
        out.extend(obj)
        return addr

    def group(node: dict, cls: str) -> int:
        links = []
        for name, child in node.items():
            if isinstance(child, dict):
                addr = group(child, child_class(name))
            else:
                addr = put(_dataset(child))
            links.append(_link(name, addr))
        return put(_object_header(links + [_attribute("NX_class", cls)]))

    root = group(tree, "NXroot")
    out[:SUPERBLOCK_SIZE] = (
        SIGNATURE
        # versions: superblock, free space, root entry, reserved, shared
        # header; then 8-byte offsets and lengths, reserved
        + struct.pack("<BBBBBBBB", 0, 0, 0, 0, 0, 8, 8, 0)
        + struct.pack("<HHI", 4, 16, 0)  # group leaf/internal K, flags
        + struct.pack("<QQQQ", 0, UNDEF, len(out), UNDEF)
        # root symbol table entry: name offset, object header, cache
        # type 0, reserved, 16-byte scratch pad
        + struct.pack("<QQII16x", 0, root, 0, 0)
    )
    return bytes(out)


def child_class(name: str) -> str:
    """NeXus class attribute for a group, from its name."""
    if name == "entry":
        return "NXentry"
    if name.startswith("user_"):
        return "NXuser"
    return f"NX{name.split('_')[0]}"


def write(path: str, tree: dict) -> None:
    with open(path, "wb") as fh:
        fh.write(encode(tree))
