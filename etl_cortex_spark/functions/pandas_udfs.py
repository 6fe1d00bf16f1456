"""The sanctioned Python escape hatch (SURVEY §2 'UDF surface').

Policy: builtin column expressions first (every hot-path operator in
this engine is one); when Python is genuinely needed, Arrow-batched
pandas UDFs or ``mapInPandas`` — never row-at-a-time ``F.udf``. The one
Python-defined function a registry entry uses is the row-expanding
UDTF below (d33), held to its pure-SQL twin by an oracle.
"""

from __future__ import annotations


def sentence_udtf():
    """Python UDTF (Spark 3.5+): split a document into sentences,
    yielding one row per sentence with its index and char span — the
    generator-shaped escape hatch for logic that must EXPAND rows in
    Python (the row-wise sibling of mapInPandas).

    Policy note (SURVEY §2 UDF surface): explode-producing column
    expressions stay the first choice — this exists to cover the UDTF
    API with an honestly-useful shape, and its inventory entry proves
    parity against the pure-SQL split so the escape hatch is
    swap-in/swap-out. Lazy-constructed so importing this module never
    requires a SparkSession.
    """
    from pyspark.sql.functions import udtf

    @udtf(returnType="sent_idx int, sentence string, n_chars int")
    class SentenceSplit:
        def eval(self, text: str):
            if text is None:
                return
            start = 0
            idx = 0
            for i, ch in enumerate(text):
                if ch in ".!?":
                    sent = text[start : i + 1].strip()
                    if sent:
                        yield idx, sent, len(sent)
                        idx += 1
                    start = i + 1
            tail = text[start:].strip()
            if tail:
                yield idx, tail, len(tail)

    return SentenceSplit
