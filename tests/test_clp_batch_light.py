"""The batch encoder, for every column subset a consumer asks for, and the
string-op token classifier must be EXACT twins of the reference per-row
functions — the column subsets are what the driver queries
e1_var_classes / e1_encode_4byte / e1_logtype_extract ride."""

from __future__ import annotations

import re

import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from fluent_bit_clp_spark.functions.clp_native import (
    FLOAT_RE,
    INT_RE,
    MODE_4BYTE,
    MODE_I64,
    VAR_TOKEN_RE,
)
from fluent_bit_clp_spark.functions.clp_pandas import (
    ENCODE_COLS,
    _encode_batch,
    _encode_one,
    _float_shape,
    _int_shape,
)

_INT_RX = re.compile(INT_RE)
_FLOAT_RX = re.compile(FLOAT_RE)
_VAR_RX = re.compile("^" + VAR_TOKEN_RE + "$")

TEXTS = st.lists(
    st.one_of(
        st.none(),
        st.text(
            alphabet=st.characters(min_codepoint=1, max_codepoint=0x2FF),
            max_size=120,
        ),
    ),
    min_size=1,
    max_size=20,
)


@settings(max_examples=60, deadline=None)
@given(
    st.text(alphabet="0123456789.-aAzZ_/+", min_size=1, max_size=24)
)
def test_shape_classifiers_equal_regexes(tok):
    """_int_shape/_float_shape are exact equivalents of INT_RE/FLOAT_RE
    on every possible variable token (tokens always match VAR_TOKEN_RE,
    i.e. contain a digit and stay in the token char class)."""
    if not _VAR_RX.match(tok):
        return
    assert _int_shape(tok) == bool(_INT_RX.match(tok)), tok
    assert _float_shape(tok) == bool(_FLOAT_RX.match(tok)), tok


@settings(max_examples=300, deadline=None)
@given(
    st.text(
        alphabet=st.characters(min_codepoint=1, max_codepoint=0x2FF),
        max_size=200,
    )
)
def test_fast_token_regex_equals_original(text):
    """VAR_TOKEN_FAST_RE (backtracking-free) must produce the exact same
    matched spans as VAR_TOKEN_RE on arbitrary text — both match the
    maximal token-class runs containing at least one digit."""
    from fluent_bit_clp_spark.functions.clp_pandas import VAR_TOKEN_FAST_RE

    orig = [m.span() for m in re.finditer(VAR_TOKEN_RE, text)]
    fast = [m.span() for m in re.finditer(VAR_TOKEN_FAST_RE, text)]
    assert orig == fast, text


COL_SUBSETS = [
    ("logtype", "n_vars"),
    ("n_vars",),
    ("var_kinds",),
    ("var_kinds", "encoded_vars"),
    ("dict_vars", "logtype"),
    ENCODE_COLS,
]


@pytest.mark.parametrize("mode", [MODE_I64, MODE_4BYTE])
@pytest.mark.parametrize("cols", COL_SUBSETS, ids="+".join)
@settings(max_examples=40, deadline=None)
@given(texts=TEXTS)
def test_encode_batch_cols_equal_encode_one(cols, mode, texts):
    """``_encode_batch(texts, mode, cols)`` returns exactly ``cols``, in
    order, each equal to the per-row ``_encode_one`` (``n_vars`` ==
    ``len(var_kinds)``); null texts give null in every column."""
    got = _encode_batch(pd.Series(texts, dtype=object), mode, cols)
    assert tuple(got.columns) == cols
    for i, t in enumerate(texts):
        lt, k, e, d = _encode_one(t, mode)
        want = {
            "logtype": lt,
            "var_kinds": k,
            "encoded_vars": e,
            "dict_vars": d,
            "n_vars": None if k is None else len(k),
        }
        for c in cols:
            v = got[c][i]
            if want[c] is None:
                assert v is None or v is pd.NA, (c, i, t)
            else:
                assert v == want[c], (c, i, t)
