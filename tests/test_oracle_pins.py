"""Byte pins of the oracle SQL: the sha256 of every ``oracle_sql()`` string.

The oracle SQL is frozen: a refactor of the builders that emit it
(``sqlgen``, the ``oracle_*`` functions under ``extras/``, the transcripts
derivation) must leave every string byte-identical. A deliberate change to
an oracle updates its pin here, in the same change, so the edit is explicit.
"""

from __future__ import annotations

import hashlib
import importlib

ORACLE_SHA256 = {
    "transcripts": "22327a3ad48674e7aacc9b093c129fa708bf189dc798befacb2b1beab98d878f",
    "parse": "147f0b52ffda4a0ac204fbff987144e692db8b2793c8b323f8345f25696107b7",
    "parse_pandas_udf": "147f0b52ffda4a0ac204fbff987144e692db8b2793c8b323f8345f25696107b7",
    "route_stats": "7bec089b5e32b989cf328ee0b7b8be4d6974a863edac9186ff9c83733196cc7f",
    "enrich_dims": "0ff4c6511f8ef41c20ae85d3ed41dd5391261a53cbe234a6617c8545db3696cf",
    "route_errors": "5a00ec5c23de5b982e542e01445b59ec1c97ad70e3e812bf30c7e3f1c8798d5d",
    "route_tool_calls": "b8260f23207329ac88069acb7973f94b561da0fcea97cb74e817d342a0f5ba78",
    "route_anomalies": "296d033228df1833846be5cdd04d3e514a76ac9fcd64ccbd1e3c38ea31a9df65",
    "kept_rows": "b8b52d8e2e8816dd13cb32a6a97e44a28945c0c76039efbd85253fd3f90cdf52",
    "dedup": "7d189d004ad086dd20727e302b7af2c6452bf28d3641d35554484cf553e827c4",
    "dedup_simhash": "ec01ea03efdefa9fe9531f05c7f1e6f22fa6ec171c6996ff80a6c503b8e92692",
    "report_buckets": "adfaad8bf67c1a8997769a34bfca7d3940d8fb6d36ae67fed48b3a9bac2185ff",
    "report_buckets_fuzzy": "1f98c40c0f25b029907205294ac0cc8e198a9f087067393705ba725b4d819604",
    "top_issues": "c2feae0bb7905025431ae6381f5bd543b09c52e764799af2191ae281d466fef6",
    "summary": "9d446a66cd418100c96fcab2690b5802943e9b29fb788890c2e08448f7622bfb",
    "conv_stats": "83da02d6dd9f9ee89c0f1585ff4c0527e2197105a53deb62ee2e36126d45a47c",
    "conv_sessions": "5657180cfae673c03ed53ba6ddb22f92c4b4c1cb7cf2e2972e5682529b26bf46",
    "latency_profile": "78daf11bf5255d5c37de5ebff456b20498b43823aa036b7e60092bfbc7fdc1d9",
    "redact": "d0fd93d78bd2a6e71597665681388fc97a5b309c2c67c5fe9ec18cec37036940",
    "stream_window_counts": "23d69d51a072c1fb48d8888f007d4530d101ac694d4057e2f9ece1e00e07afb1",
    "recent_logs": "d8df73190771971f00ef447ce129c61d419d7d9fcda73d9d3127f37885d68b22",
    "label_canon": "c5692509529bd795c57baf0483a315d8a7ecce17b7ce648e1b69474e01e33dba",
    "common_labels": "d3a2e2698d44fdb0881b8ea9b81be667f258ed11091c69c039fb2a2ed5ce332c",
    "flexible_ts": "dedfc1e1790cf196e13cdc2cd1e237d84ca1f841faef3b23308f30a4e1a07461",
    "dedup_examples": "7ff3abce46e47b71189acbf567e34e04629a70c39c9094e65d0fb0b972db692f",
    "level_info_default": "43364b5ecdc8fa849afb581e6d71c4279f77441f5a6295a61ee173447437e35a",
    "api_logs": "a6d8e8a9aa2ee441ace337704c5c370dc33d4944f0c319e850b0a5dfd24ba3d5",
    "log_search": "49745839f398bfc803f1faa8835067a97dd69b19562342a5e3549ebb02389a96",
    "report_api": "519792a049195f5f8c6c10eaa453b575f32a86ccf3ac20e1b0ed10bfa2416406",
    "emb_knn_ann": "7fde98b1756aca7710bdd0f0a0f877a1b7a010c4ef9fb3bea5ae965322109156",
    "emb_cluster": "6488f48e6f8a3007f017c7d4750d4c149bc1edba60cd353a706144009fbd44f6",
    "multimodal": "6338c09ea6688d974d2d4c0ce98d3b7e482c2365d0af5764edd929723606242d",
    "emb_knn_brute": "db3e36aedb272d650c81f03b1904b7d55e34959ee192eaf45221267c4b7fa46f",
    "doc_text_stats": "dc190774e8849845d24564ec596089515c65bcb1c3cc8bb955a56ebf301c463d",
    "doc_curated": "390c594757f5f02e93de2256ad71867c56ac1dced2684ae18da65e516dc9d11d",
    "doc_token_mix": "f2ebdb643c84ee45df3504fae418e18e8b07379b020f34a8cb0a0794aea49903",
    "doc_incremental_dedup": "032f75fd57559e928b8a9fce049520848763b2ad6e110bdd9cc889d68e414625",
    "doc_quota_sample": "e92abbaaadf846396d2490a540cef56416841f261a165b801bbcc5e9f87e11c0",
    "doc_quota_topn": "c4d478a9251d71b4f99dc33067ca2e2c337d1e631c1551b8d52a1417abf7e00b",
    "doc_repetition": "ebec7cc126f0339b41ee8809c155eb8408167d1024810e9f63f90e0b656abb5d",
    "doc_pack_sequences": "c34d2f070c972e251c8c1f1e099c4c8b43d7c2fdbe4068493f339116f1fb345a",
    "doc_vocab": "56b097c2963f9ee80db1a2670111321834d0faeb5730bc3cbd1cc8cce210146d",
    "doc_tfidf_topterms": "088e4fd0f4481c60d5863c50e9d3e82916ef92d3dbee9a9a2aa7132cbd305913",
    "doc_contamination": "ece108af0cc15affc16b3d95d0f779dd534f2812779eb49cc6f1401e20e11a17",
    "doc_exact_dedup": "ea277f88b22f10b8bb1bf5bcfc2577dd6039d5bed2ed6b3a18753152eb37b1df",
    "doc_jaccard_pairs": "755371c62fbc4e4dd1b90f6adc616a695efb857ae199129ec4748c9f6f9ff74e",
    "doc_minhash_lsh_pairs": "2caab4373632f0a261cb4230b058e17838f98afd689e2f1145675b6db917415f",
    "doc_simhash": "57b255a034086920bd948b470dec66cf5298de0d5b39e146924216d462b90a7c",
    "doc_cosine_neardup": "0902a7897d724b5092bad825639953db54915925393b5fa11294e7560a62510e",
    "doc_neardup_components": "e357aaa4917a802b0078849f244642f1d078c4fdeebcd1366790f16b4abbc71c",
}


def test_oracle_sql_bytes_are_pinned():
    oracles = importlib.import_module("__spark_entry__").oracle_sql()
    got = {n: hashlib.sha256(sql.encode()).hexdigest() for n, sql in oracles.items()}
    changed = sorted(n for n in ORACLE_SHA256 if got.get(n) != ORACLE_SHA256[n])
    unpinned = sorted(set(got) - set(ORACLE_SHA256))
    assert not changed, f"oracle SQL changed (or went missing) for: {changed}"
    assert not unpinned, f"oracle SQL without a pin: {unpinned}"
