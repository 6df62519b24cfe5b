"""The driver contract of ``__spark_entry__``: which queries exist, in which
order, and the exact oracle SQL text of each. The driver hashes both, so any
change here must be deliberate."""

import hashlib
import json

import __spark_entry__ as em

ORACLE_SHA256 = 'e336f7f1c34db043b0dd6ab09480e8266de1e79cde50ed34caf73661412f1104'
ORDER_SHA256 = '8f564be6b511d2c9222dddf0f780ce1328d287083d1a0a904202b51f488350bf'


def _sha256(obj, **kw) -> str:
    return hashlib.sha256(json.dumps(obj, **kw).encode()).hexdigest()


def test_oracle_texts_unchanged():
    assert _sha256(em.oracle_sql(), sort_keys=True) == ORACLE_SHA256


def test_query_order_unchanged():
    assert _sha256(list(em.queries())) == ORDER_SHA256


def test_every_query_but_the_media_stub_has_an_oracle():
    names = list(em.queries())
    assert len(names) == len(set(names)) == 129
    assert set(names) - set(em.oracle_sql()) == {'media_features_stub'}
    assert set(em.oracle_sql()) <= set(names)
