"""``_enrich_pdf`` row assembly against a row-at-a-time reference.

Pure pandas, no Spark: a fake client serves fixed results per key. The
reference below is the per-probe-row assembly loop the operator used
before it assembled once per distinct key; the operator's output must
match it exactly — row order, column order and every value.
"""

import random

import pandas as pd
import pytest

from pyspark.sql import types as T

from flink_connector_http_spark import HttpLookupOptions, HttpLookupTable
from flink_connector_http_spark.lookup import _coerce, _EnrichConfig, _enrich_pdf, _extract_path
from flink_connector_http_spark.types import (
    METADATA_COLUMN_NAMES,
    HttpCompletionState,
    HttpLookupResult,
)

SCHEMA = T.StructType([
    T.StructField("id", T.LongType()),
    T.StructField("zip", T.StringType()),
    T.StructField("name", T.StringType()),
    T.StructField("tags", T.ArrayType(T.StringType())),
    T.StructField("info", T.StructType([T.StructField("score", T.DoubleType())])),
])

#: two-column key: a plain column and a dotted path into a struct column
PAIRS = (("cust", "id"), ("addr.zip", "zip"))


class FakeClient:
    """Serves ``results[key tuple]`` to per-key exchanges and counts them:
    each exchange is a step sequence that needs no wire, and ``run``
    drives them one after another, as the sync lookup does."""

    options = HttpLookupOptions()

    def __init__(self, results):
        self.results = results
        self.pulled = []

    def build_request(self, key_values):
        return key_values

    def exchange_steps(self, key_values):
        kt = (key_values["id"], key_values["zip"])
        self.pulled.append(kt)
        return self.results[kt]
        yield  # noqa: unreachable — makes this a step sequence

    def publish(self, result):
        return result

    def run(self, sequences, **_):
        results = []
        for steps in sequences:
            try:
                next(steps)
            except StopIteration as stop:
                results.append(stop.value)
            else:
                raise AssertionError("FakeClient got a wire attempt")
        return results


def ok(*rows, headers=None):
    return HttpLookupResult(
        rows=tuple(rows), status_code=200,
        headers=headers or {"X-Req": ["1"]},
    )


def row(cid, zip_, name, tags=("a",), score="1.5"):
    return {"id": cid, "zip": zip_, "name": name, "tags": list(tags),
            "info": {"score": score}}


RESULTS = {
    (1, "10"): ok(row(1, "10", "one")),                                # 1 row
    (2, "20"): ok(row(2, "20", "two-a"), row(2, "20", "two-b", ()),    # 3 rows
                  row(2, "20", "two-c", ("x", "y"))),
    (3, "30"): ok(),                                                   # 0 rows
    (4, "40"): ok(row(None, None, "backfilled")),   # null keys → probe's
    (None, "50"): ok(row(None, "50", "null-key")),  # null probe key
    (5, "60"): HttpLookupResult(                    # failed lookup
        error_string="boom", status_code=503,
        completion_state=HttpCompletionState.HTTP_ERROR_STATUS,
    ),
}


def config(how, meta, prefix="l_", probe_cols=("order", "cust", "addr", "ts")):
    meta_names = METADATA_COLUMN_NAMES if meta else ()
    fields = tuple(SCHEMA.fields)
    return _EnrichConfig(
        table=HttpLookupTable("http://unused.invalid/", SCHEMA),
        pairs=PAIRS,
        probe_col_names=tuple(probe_cols),
        output_lookup_fields=fields,
        out_col_names=(
            tuple(probe_cols)
            + tuple(f"{prefix}{f.name}" for f in fields)
            + tuple(f"{prefix}{m}" for m in meta_names)
        ),
        lookup_prefix=prefix,
        key_lookup_names=tuple(lk for _, lk in PAIRS),
        meta_names=tuple(meta_names),
        emit_on_empty=how == "left" or bool(meta_names),
    )


def reference(cfg, pdf, results):
    """One probe row at a time: emptiness rule, coercion, join-key
    backfill, array multiply and metadata per emitted row."""
    out = {name: [] for name in cfg.out_col_names}
    key_names = list(cfg.key_lookup_names)
    for i in range(len(pdf)):
        kt = tuple(
            _extract_path(pdf[pc.split(".")[0]].iloc[i], pc.split(".")[1:])
            for pc, _lk in cfg.pairs
        )
        result = results[kt]
        rows = result.rows
        if not rows:
            if not cfg.emit_on_empty:
                continue
            rows = [None]
        for r in rows:
            for name in cfg.probe_col_names:
                out[name].append(pdf[name].iloc[i])
            for f in cfg.output_lookup_fields:
                name = f"{cfg.lookup_prefix}{f.name}"
                if r is None:
                    out[name].append(None)
                    continue
                value = _coerce(r.get(f.name), f.dataType)
                if value is None and f.name in key_names:
                    value = kt[key_names.index(f.name)]
                out[name].append(value)
            meta = {
                "error-string": result.error_string,
                "http-status-code": result.status_code,
                "http-headers": dict(result.headers) if result.headers else None,
                "http-completion-state": result.completion_state.value,
            }
            for m in cfg.meta_names:
                out[f"{cfg.lookup_prefix}{m}"].append(meta[m])
    return out


def probe_frame(keys):
    return pd.DataFrame({
        "order": list(range(100, 100 + len(keys))),
        "cust": pd.Series([c for c, _ in keys], dtype="object"),
        "addr": pd.Series([{"zip": z, "street": f"s{z}"} for _, z in keys],
                          dtype="object"),
        "ts": pd.date_range("2024-03-01", periods=len(keys), freq="h"),
    })


def assert_matches_reference(cfg, pdf, results):
    client = FakeClient(results)
    got = _enrich_pdf(cfg, client, None, pdf)
    want = reference(cfg, pdf, results)
    assert list(got.columns) == list(cfg.out_col_names)
    assert {name: got[name].tolist() for name in got.columns} == want
    for name in cfg.probe_col_names:  # probe columns keep their dtype
        assert got[name].dtype == pdf[name].dtype, name
    for name in cfg.out_col_names[len(cfg.probe_col_names):]:
        assert got[name].dtype == object, name
    # one pull per distinct key, in first-seen probe order
    seen = []
    for kt in zip(pdf["cust"], (a["zip"] for a in pdf["addr"])):
        if kt not in seen:
            seen.append(kt)
    assert client.pulled == seen
    return got


MIXED_KEYS = [
    (2, "20"), (1, "10"), (3, "30"), (2, "20"), (None, "50"), (4, "40"),
    (5, "60"), (1, "10"), (3, "30"), (2, "20"), (4, "40"), (None, "50"),
]


@pytest.mark.parametrize("how,meta", [
    ("inner", False), ("left", False), ("inner", True), ("left", True),
])
def test_mixed_batch_matches_row_at_a_time_reference(how, meta):
    cfg = config(how, meta)
    got = assert_matches_reference(cfg, probe_frame(MIXED_KEYS), RESULTS)
    by_order = got.groupby("order").size().to_dict()
    # key (2,"20") multiplies its probe rows by 3; (3,"30") and the failed
    # (5,"60") emit nothing under a plain inner join, one row otherwise
    assert by_order[100] == 3
    assert by_order.get(102, 0) == by_order.get(106, 0) == int(cfg.emit_on_empty)
    backfilled = got[got["l_name"] == "backfilled"]
    assert backfilled["l_id"].tolist() == [4, 4]
    assert backfilled["l_zip"].tolist() == ["40", "40"]


def test_no_prefix_and_single_probe_column_subset():
    cfg = config("left", True, prefix="", probe_cols=("cust", "addr"))
    assert_matches_reference(cfg, probe_frame(MIXED_KEYS), RESULTS)


def test_all_keys_empty_inner_join_emits_empty_frame():
    cfg = config("inner", False)
    got = _enrich_pdf(cfg, FakeClient(RESULTS), None,
                      probe_frame([(3, "30"), (5, "60"), (3, "30")]))
    assert len(got) == 0
    assert list(got.columns) == list(cfg.out_col_names)


def test_random_batches_match_reference():
    rng = random.Random(7)
    keys = [(k, str(k * 10)) for k in range(12)]
    for _ in range(20):
        results = {}
        for cid, zip_ in keys:
            n_rows = rng.choice((0, 1, 1, 1, 2, 3))
            results[(cid, zip_)] = ok(*[
                row(rng.choice((cid, None)), zip_, f"{cid}-{j}",
                    tags=[str(j)] * rng.randint(0, 2))
                for j in range(n_rows)
            ])
        batch = [rng.choice(keys) for _ in range(rng.randint(1, 60))]
        for how, meta in (("inner", False), ("left", False), ("inner", True)):
            assert_matches_reference(config(how, meta), probe_frame(batch), results)
