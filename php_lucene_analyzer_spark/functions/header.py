"""CodecUtil-role artifact framing (reference hunspell/CodecUtil.php:20-261).

Lucene frames every on-disk file with writeHeader(magic 0x3fd76c17,
codec name, version) and checkHeader refuses too-old / too-new files
with a precise error (IndexFormatTooOldException /
IndexFormatTooNewException, CodecUtil.php:180-261).  Parquet already
carries that role for the columnar payloads (PAR1 magic + schema), but
the repo's OWN multi-file artifacts — postings/term-dict directories,
the resumable-build workdir, stats.json — need the same guard: a resume
against a stale layout must fail with a CLEAR versioned error instead
of a confusing downstream decode exception.

Directory artifacts carry a ``_FORMAT.json`` sidecar; stats.json embeds
the same fields inline.
"""

from __future__ import annotations

import json
import os

CODEC_MAGIC = 0x3FD76C17  # CodecUtil.php:20 CODEC_MAGIC

# bump a version whenever the on-disk layout changes incompatibly
POSTINGS_CODEC = "plas-postings-blocks"
POSTINGS_VERSION = 2      # v2: rbucket = (base+pid)*stride + flush_no
POSITIONAL_CODEC = "plas-positional-blocks"
POSITIONAL_VERSION = 2    # v2: a doc's positions share its postings' rbucket
INDEX_WORKDIR_CODEC = "plas-index-workdir"
INDEX_WORKDIR_VERSION = 2

_SIDECAR = "_FORMAT.json"


class FormatError(ValueError):
    """Stale/foreign artifact layout (CodecUtil's TooOld/TooNew role)."""


def header_fields(codec: str, version: int) -> dict:
    return {"magic": CODEC_MAGIC, "codec": codec, "version": version}


def check_fields(fields: dict, codec: str, min_version: int,
                 max_version: int, where: str) -> int:
    if fields.get("magic") != CODEC_MAGIC:
        raise FormatError(
            f"{where}: bad magic {fields.get('magic')!r} (expected "
            f"{CODEC_MAGIC:#x}) — not a {codec} artifact")
    if fields.get("codec") != codec:
        raise FormatError(
            f"{where}: codec {fields.get('codec')!r} != expected {codec!r}")
    v = fields.get("version")
    if not isinstance(v, int) or v < min_version:
        raise FormatError(
            f"{where}: format version {v!r} is older than the oldest "
            f"supported ({min_version}) — rebuild the artifact with the "
            f"current code")
    if v > max_version:
        raise FormatError(
            f"{where}: format version {v} is newer than this code "
            f"supports ({max_version}) — upgrade the library")
    return v


def write_dir_header(path: str, codec: str, version: int) -> None:
    with open(os.path.join(path, _SIDECAR), "w") as f:
        json.dump(header_fields(codec, version), f)


def check_dir_header(path: str, codec: str, min_version: int,
                     max_version: int) -> int:
    """Validate a directory artifact's header; raises FormatError with a
    versioned message.  A directory that exists WITHOUT a sidecar is a
    pre-versioned (or foreign) layout — also an error, so a stale resume
    fails at open time, not mid-decode."""
    sidecar = os.path.join(path, _SIDECAR)
    if not os.path.exists(sidecar):
        raise FormatError(
            f"{path}: no {_SIDECAR} header — pre-versioned or foreign "
            f"layout; rebuild with the current code")
    with open(sidecar) as f:
        fields = json.load(f)
    return check_fields(fields, codec, min_version, max_version, path)
