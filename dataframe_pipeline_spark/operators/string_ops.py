"""StringConcatenator and StringSplitter — string feature engineering.

Reference: /root/reference/dfpipeline/StringConcatenator.py and
StringSplitter.py.  Pure Column expressions → whole-stage codegen, no UDFs.

StringConcatenator quirk replicated exactly (StringConcatenator.py transform):
each operand is stringified then ``.rstrip('0').rstrip('.')`` — so
``'100.0' → '100'`` (intended float cleanup) but also ``'120' → '12'`` for
ints ending in zero, and the *accumulated* concatenation is re-stripped at
every fold step.  ``rstrip`` strips a character *set* repeatedly, which is
exactly ``regexp_replace(s, '0+$', '')`` then ``regexp_replace(s, '\\.+$','')``.
Arity-1 inputs copy the column unchanged (no strip), as in the reference.
Tuples apply in order: a later tuple reads what an earlier one wrote.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..base import SparkDFPBase, stringify


def _strip_trailing(col: Column) -> Column:
    return F.regexp_replace(F.regexp_replace(col, "0+$", ""), r"\.+$", "")


class StringConcatenator(SparkDFPBase):
    def __init__(self, inputs=None, outputs=None, separator: str = ""):
        self.inputs = list(inputs or [])
        self.outputs = list(outputs or [])
        self.separator = separator

    def column_exprs(self, view) -> dict:
        updates = {}
        for output, input_tuple in zip(self.outputs, self.inputs):
            if not isinstance(input_tuple, (tuple, list)):
                input_tuple = (input_tuple,)
            v = view.after(updates) if updates else view
            if len(input_tuple) == 1:
                updates[output] = v.col(input_tuple[0])
                continue
            # Iterative fold: at every step the accumulator (raw column at
            # step 1, already-concatenated string later) is re-stripped, so
            # intermediate results ending in '0' lose it — exactly the
            # reference's behavior.  The final result is not stripped.
            out = stringify(v, input_tuple[0])
            for nxt in input_tuple[1:]:
                out = F.concat(
                    _strip_trailing(out),
                    F.lit(self.separator),
                    _strip_trailing(stringify(v, nxt)),
                )
            updates[output] = out
        return updates


class StringSplitter(SparkDFPBase):
    """Split by separator (keep first/last token) or by character index.

    Reference: StringSplitter.py transform —
    - separator mode: ``str(x).split(sep)[keep]`` (plain-string split);
    - index mode:     ``str(x)[:index]`` (keep=0) or ``str(x)[index:]``
      (keep=-1), Python slice semantics including negative indices.
    """

    def __init__(self, inputs=None, outputs=None, separator=None, index=None, keep: int = 0):
        self.inputs = list(inputs or [])
        self.outputs = list(outputs or [])
        self.separator = separator
        self.index = index
        self.keep = keep

    def _split_col(self, view, input: str) -> Column:
        s = stringify(view, input)
        if self.separator is not None:
            parts = F.split(s, re.escape(self.separator))
            idx = self.keep + 1 if self.keep >= 0 else self.keep
            return F.element_at(parts, idx)
        if self.index is None:
            raise ValueError("Specify separator or index")
        n, length = self.index, F.length(s)
        if self.keep == 0:  # str[:n]
            if n >= 0:
                return F.substring(s, 1, n)
            return s.substr(F.lit(1), F.greatest(length + n, F.lit(0)))
        if self.keep == -1:  # str[n:]
            if n >= 0:
                return s.substr(F.lit(n + 1), length)
            return s.substr(F.greatest(length + n + 1, F.lit(1)), length)
        raise ValueError("keep can be set only to 0 or -1")

    def column_exprs(self, view) -> dict:
        return {output: self._split_col(view, input)
                for input, output in zip(self.inputs, self.outputs)}
