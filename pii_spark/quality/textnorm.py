"""THE whitespace contract shared by the native expressions and the
Python code that must agree with them.

Native Spark expressions match Java regex ``\\s`` = the ASCII class
``[ \\t\\n\\x0b\\f\\r]``; Python's str.split()/strip()/isspace() are
Unicode-aware and silently diverge on NBSP/CRLF text. Python code that
has to split like the engine (``spark/substr_dedup.py``, the pure
oracles under ``tests/``) imports these constants instead of spelling
the class locally — the one hand-spelled copy that drifted (a class
missing ``\\n``) is exactly where a twin-parity bug lived (review r4d).
"""

from __future__ import annotations

import re

ASCII_WS = " \t\n\x0b\f\r"
ASCII_WS_RE = re.compile(r"[ \t\n\x0b\f\r]+")
