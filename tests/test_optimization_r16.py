"""Round-16 optimization gates (no Spark session needed).

The stdout bench line is parsed by the driver out of a 2000-char tail
window; compact_json_line prunes veteran `queries` entries when the
payload outgrows MAX_JSON_LINE. Round 15's added fields displaced three
veteran queries from the driver's round-over-round comparison
(VERDICT r15 #1, n_dropped_from_bench: 3). Round 16 shrank the line
(noop_total/headline_tries to BENCH_DETAIL only, compact ingest/decode
dicts); these tests pin that the line, assembled at the CURRENT payload
shape with realistic value widths, carries the r15-visible query set
PLUS the three queries r15 lost — so a future payload addition that
silently re-sheds tracked queries fails here first.
"""

from __future__ import annotations

import json

from bench import HEADLINE, MAX_JSON_LINE, QUERY_PRUNE_ORDER, compact_json_line

#: the three entries r15's payload growth pushed off the line
#: (PERF_r15.json n_dropped_from_bench) — restored in round 16
RESTORED = (
    "events_value_trend_ols",
    "doc_token_diversity",
    "events_transition_matrix",
)

#: the 28 query entries the driver's BENCH_r15 line carried — the
#: round-over-round comparison set that must never shrink again
R15_LINE_QUERIES = (
    "knn_cosine_topk", "knn_phi_topk", "rel_top_revenue_orders",
    "rel_top_orders_per_customer", "doc_language_id", "ann_ivf_recall",
    "events_sessionize", "emb_binary_hamming_topk", "doc_substring_dedup",
    "rel_rolling_30d_revenue", "doc_winnowing_fingerprint",
    "ivf_radius_pruned_search", "rel_part_skyline",
    "rel_peak_open_orders_hist", "rel_trade_pagerank",
    "events_time_weighted_avg", "rel_exact_median_price",
    "rel_rfm_segments", "rel_trade_pagerank_weighted",
    "rel_trade_components", "doc_incremental_minhash_dedup",
    "doc_cross_source_contamination", "events_cusum_alarms",
    "doc_weighted_sample", "doc_incremental_minhash_bucketed",
    "emb_hard_negatives", "doc_temperature_mix", "doc_pii_ccn",
)


def _representative_payload() -> dict:
    """The stdout payload exactly as main() assembles it in round 16,
    with value widths at least as wide as any recorded round's (probe
    dicts copied from the r15 driver run; query timings 5 chars each,
    matching the 3-decimal rounding of sub-10-second hot times)."""
    return {
        "metric": "headline_queries_total",
        "value": 12.345,
        "unit": "sec",
        "queries": {name: 0.999 for name in HEADLINE},
        "sf": 0.1,
        "headline_stamps": [0.55, 0.53, 0.55],
        "loadavg_start": 16.62,
        "cal": [0.524, 0.1532],
        "probe_order": "pre-headline",
        "ingest_rows_per_s": {
            "fixture": 2157.2, "n100k": 73574.8, "norm": 1742.5,
            "med": 1931.4, "cal": 0.5008, "tries": 4,
        },
        "knn_scale": {
            "pair_scores_per_s": 2623005.6, "norm": 2213478.3,
            "med": 2573852.7, "cal": 0.5232,
        },
        "wire_rows_per_s": 14069.0,
        "wire_vs_local": 1.37,
        "pyds_read_rows_per_s": 53655.6,
        "cluster_scale_sec": 1.23,
        "dedup_skew_ratio": 1.05,
        "cc_chain": {"sec": 1.93, "rounds": 11, "ok": True},
        "dv_delete": {"speedup": 1.52, "files_read": 1, "rename_ms": 0.4},
        "cdc_per_version_ms": 105.0,
        "manifest_soak": {"writers": 8, "commits": 64, "conflicts": 11,
                          "ok": True},
        "decode_imgs_per_s": {
            "jpeg_noise": 115.7, "png_paeth": 331.4,
            "webp_lossy_smooth": 169.4, "png_paeth_batch8": 1354.8,
            "jpeg_noise_rst_batch8": 283.9, "cal": 0.5326,
        },
        "hll_err_pct": 0.27,
        "substring_skew_ratio": 1.31,
        "retrieval": {"bm25_speedup": 10.0, "bloom_kept_frac": 0.009},
    }


def test_line_fits_driver_window():
    line = compact_json_line(_representative_payload())
    assert len(line) <= MAX_JSON_LINE


def test_line_keeps_r15_query_set_plus_restored():
    line = compact_json_line(_representative_payload())
    kept = set(json.loads(line)["queries"])
    missing = (set(R15_LINE_QUERIES) | set(RESTORED)) - kept
    assert not missing, f"line re-shed tracked queries: {sorted(missing)}"
    assert len(kept) >= 31


def test_line_never_drops_gated_scale_claims():
    """The BASELINE-gated headline rates must survive query pruning —
    they are dropped only as the very last resort, after every query
    in QUERY_PRUNE_ORDER is gone (which the tests above forbid long
    before)."""
    payload = _representative_payload()
    line = compact_json_line(payload)
    parsed = json.loads(line)
    for key in ("ingest_rows_per_s", "knn_scale", "decode_imgs_per_s"):
        assert key in parsed, f"{key} fell off the line"


def test_prune_order_covers_only_headline_names():
    assert set(QUERY_PRUNE_ORDER) <= set(HEADLINE)


# ---------------------------------------------------------------------------
# Native codec lanes (round 16, VERDICT r15 #7): the C entropy scan and
# the C PNG unfilter must be BYTE-IDENTICAL to the pure-Python paths on
# every payload class, including the error taxonomy on malformed input.
# When the lane is unavailable (no compiler), these tests skip — the
# Python paths are the decoders of record and are pinned elsewhere.
# ---------------------------------------------------------------------------

def _native_or_skip():
    import pytest

    from aeuc_vector_db_spark.sources import codec_native as CN

    if not CN.available():
        pytest.skip("native codec lane unavailable on this box")
    return CN


def test_jpeg_native_parity_all_payload_classes(monkeypatch):
    import numpy as np

    CN = _native_or_skip()
    from aeuc_vector_db_spark.sources import jpeg as J

    rng = np.random.default_rng(7)
    noise = rng.integers(0, 256, (64, 80, 3), dtype=np.uint8)
    smooth = np.tile(np.linspace(0, 255, 80, dtype=np.uint8), (64, 1))[
        ..., None
    ].repeat(3, -1)
    payloads = []
    for arr in (noise, smooth):
        for ri in (0, 2, 7):
            payloads.append(J.jpeg_encode(arr.tobytes(), 80, 64, 3, restart_interval=ri))
    payloads.append(J.jpeg_encode(noise[:, :, 0].tobytes(), 80, 64, 1))

    def py_only(fn, *a):
        monkeypatch.setattr(CN, "available", lambda: False)
        try:
            return fn(*a)
        finally:
            monkeypatch.undo()

    for p in payloads:
        assert J.jpeg_decode(p) == py_only(J.jpeg_decode, p)
    # error taxonomy parity on truncation at several depths
    p = payloads[0]
    for cut in (len(p) // 2, len(p) - 4, len(p) - 16):
        native_err = python_err = None
        try:
            J.jpeg_decode(p[:cut])
        except Exception as e:  # noqa: BLE001
            native_err = (type(e).__name__, str(e))
        try:
            py_only(J.jpeg_decode, p[:cut])
        except Exception as e:  # noqa: BLE001
            python_err = (type(e).__name__, str(e))
        assert native_err == python_err
    # batch path parity (native routes per item)
    bad = payloads[0][: len(payloads[0]) // 2]
    got = J.jpeg_decode_batch(payloads + [bad], on_error="capture")
    for i, p in enumerate(payloads):
        assert got[i] == J.jpeg_decode(p)
    assert isinstance(got[-1], ValueError)


def test_png_native_unfilter_parity_all_filters(monkeypatch):
    import numpy as np

    CN = _native_or_skip()
    from aeuc_vector_db_spark.sources import multimodal as MM

    rng = np.random.default_rng(11)
    img = rng.integers(0, 256, (24, 17, 3), dtype=np.uint8)
    # exercise every filter type + a mixed frame through the public API:
    # re-filter rows by hand per type, then decode both ways
    h, w, c = img.shape
    stride = w * c
    flat = img.reshape(h, stride)

    def filtered(ft_row):
        import struct
        import zlib

        raw = bytearray()
        prev = bytes(stride)
        for y in range(h):
            line = flat[y].tobytes()
            ft = ft_row[y]
            row = bytearray(stride)
            for i in range(stride):
                a = line[i - c] if i >= c else 0
                b = prev[i]
                cc = prev[i - c] if i >= c else 0
                if ft == 0:
                    pr = 0
                elif ft == 1:
                    pr = a
                elif ft == 2:
                    pr = b
                elif ft == 3:
                    pr = (a + b) >> 1
                else:
                    p = a + b - cc
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - cc)
                    pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else cc)
                row[i] = (line[i] - pr) & 0xFF
            raw += bytes([ft]) + bytes(row)
            prev = line

        def chunk(tag, data):
            return (struct.pack(">I", len(data)) + tag + data
                    + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF))

        return (b"\x89PNG\r\n\x1a\n"
                + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
                + chunk(b"IDAT", zlib.compress(bytes(raw)))
                + chunk(b"IEND", b""))

    cases = [[ft] * h for ft in range(5)]
    cases.append([(y * 7) % 5 for y in range(h)])  # mixed frame
    for fts in cases:
        blob = filtered(fts)
        native = MM.png_decode(blob)
        monkeypatch.setattr(CN, "available", lambda: False)
        python = MM.png_decode(blob)
        monkeypatch.undo()
        assert native == python, f"filters {sorted(set(fts))} diverge"
        assert native[3] == img.tobytes()  # and both reconstruct the source
