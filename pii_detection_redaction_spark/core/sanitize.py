"""Filesystem-name hygiene for file-per-document sinks.

Reference parity: ``interface/helpers.py:42-46`` replaces the characters
Windows/POSIX reject in filenames with underscores; same contract here for
any sink that derives file names from urls/doc ids.
"""

from __future__ import annotations

import os
import re

_UNSAFE_RE = re.compile(r'[<>:"/\\|?*]')


def safe_filename(name: str) -> str:
    """Replace ``< > : " / \\ | ? *`` with ``_`` (reference C19)."""
    return _UNSAFE_RE.sub("_", name)


def claim_filename(name: str, used: set) -> str:
    """``safe_filename(name)``, suffixed ``_2``, ``_3``, ... until it is not
    in ``used``; records the claim. Distinct ids that sanitize alike
    (``a.com/x`` and ``a.com?x``) get distinct files instead of one
    silently overwriting the other."""
    base, ext = os.path.splitext(safe_filename(name))
    n, candidate = 1, base + ext
    while candidate in used:
        n += 1
        candidate = f"{base}_{n}{ext}"
    used.add(candidate)
    return candidate
