"""Quoting for the names and strings that builders put into SQL text.

Data types never go through text: cast with the ``DataType`` object
(``F.lit(None).cast(dtype)``), since a rendered type string does not
quote struct field names.
"""

from __future__ import annotations


def sql_ident(name: str) -> str:
    """A column or field name as a Spark SQL identifier: backquoted,
    with any backquote inside doubled, so any legal name parses."""
    return "`" + name.replace("`", "``") + "`"


def sql_lit(s: str) -> str:
    """A Python string as a Spark SQL string literal."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"
