"""Registry-wide output-schema guard.

The driver canonicalizes every query result through pandas
(``sort_values`` over all columns) before hashing; a top-level
ArrayType/MapType column crashes it with ``unhashable type: 'list'``.
This cost a driver row in round 1 (``media_feature_extract``) and again
in round 2 (``scalar_array_kit``) — this test makes the trap impossible:
any driver-registered query emitting a complex-typed column fails CI
before the driver ever sees it.  Arrays belong INSIDE a query's plan;
the driver-facing projection joins them to strings
(``F.array_join(..., '|')``).
"""

from __future__ import annotations

import pytest
from pyspark.sql import types as ST

from erathia_market_etl_spark.plans import all_queries, query

from .conftest import SF_SMOKE

QUERIES = all_queries()

# Queries whose callable *executes* work on invocation (streaming runs an
# availableNow trigger to completion); their schemas are still checked —
# nothing is exempt from the guard — they are just slower to build.
# DecimalType joins the complex types: Spark's toPandas() yields python
# Decimal objects where DuckDB's .df() yields float64, so a DECIMAL
# column str()-canonicalizes differently on the two sides and
# hash-mismatches even when values agree. Money pipelines accumulate in
# DECIMAL(38,12) internally but must cast the driver-facing projection
# back to double (functions/money.py does).
_FORBIDDEN = (ST.ArrayType, ST.MapType, ST.StructType, ST.DecimalType)


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_no_complex_top_level_columns(spark, name):
    df = QUERIES[name](spark, SF_SMOKE)
    bad = [
        f"{f.name}: {f.dataType.simpleString()}"
        for f in df.schema.fields
        if isinstance(f.dataType, _FORBIDDEN)
    ]
    assert not bad, (
        f"{name} returns driver-unhashable top-level column(s) {bad}; "
        "join arrays to strings (F.array_join) in the driver-facing "
        "projection — see module docstring"
    )


# -- registry surface ---------------------------------------------------
# Importing and calling the registry must not depend on anything outside
# the package: no round artifacts, no repo-root listing. The audit hook
# records every file open and directory listing; listings made by the
# import system itself (finding the package on sys.path) are skipped.
_AUDIT_SCRIPT = r"""
import json, os, sys

seen = []


def _from_import_system():
    f = sys._getframe(2)
    while f is not None:
        if f.f_code.co_filename.startswith("<frozen importlib"):
            return True
        f = f.f_back
    return False


def hook(event, args):
    if event not in ("open", "os.scandir", "os.listdir"):
        return
    path = "." if args[0] is None else args[0]  # None lists the cwd
    if not isinstance(path, (str, bytes)):  # an fd, not a path
        return
    if event != "open" and _from_import_system():
        return
    seen.append([event, os.path.abspath(os.fsdecode(path))])


sys.addaudithook(hook)
from erathia_market_etl_spark.plans import all_oracles, all_queries

all_queries()
all_oracles()
print(json.dumps(seen))
"""


def test_registry_reads_nothing_outside_the_package():
    import json
    import os
    import subprocess
    import sys
    from pathlib import Path

    root = Path(__file__).resolve().parents[1]
    pkg = root / "erathia_market_etl_spark"
    env = dict(os.environ, PYTHONPATH=str(root))
    out = subprocess.run(
        [sys.executable, "-c", _AUDIT_SCRIPT], cwd="/tmp", env=env,
        capture_output=True, text=True, check=True,
    ).stdout
    seen = json.loads(out.splitlines()[-1])
    stray = [
        (event, path) for event, path in seen
        if Path(path).is_relative_to(root) and not Path(path).is_relative_to(pkg)
    ]
    assert stray == [], stray


def test_registered_names_and_oracles_are_pinned():
    """The driver contract's surface: the 100 registered names and the
    exact bytes of every oracle. A change here is a contract change and
    must update these pins on purpose."""
    import hashlib

    from erathia_market_etl_spark.plans import all_oracles

    oracles = all_oracles()
    assert sorted(QUERIES) == sorted(_ORACLE_SHA256)
    assert {
        name: hashlib.sha256(sql.encode()).hexdigest()
        for name, sql in oracles.items()
    } == _ORACLE_SHA256


def test_duplicate_name_raises():
    before = all_queries()
    with pytest.raises(ValueError, match="duplicate query name"):
        query("q1_net_revenue_by_nation", "SELECT 1")(lambda spark, sf_dir: None)
    assert all_queries() == before


_ORACLE_SHA256 = {
    "agg_approx_sketches":
        "fdd16b8f19362745154412f081e79ebb778a3f94c10f0308f6d4d86c7fe7d605",
    "agg_distinct_aggregates":
        "240e9999883dee3bbf8aeadb122d32fcaceb02a3d5746055c213ed54c93c0eb7",
    "agg_exact_percentiles":
        "b70fd5e50a7f68acbe4041fbd6b7b31d26e524f094dc3677338954282e9dc2c4",
    "agg_freq_items":
        "db73f1572f8a6c057883de08ef8adb37717e0e34147e1252d5607568ce100c76",
    "agg_grouping_sets":
        "c84fde490d08d68e695b0a5ac6b6c35d24b51fedbf8d5311e86138944e8683a4",
    "agg_rollup":
        "1078aabd5438e2f00c2fee86844d0083c1256833ebfa5b7ee5a35cbb59850a7e",
    "agg_stats_profile":
        "144487ac7df769f7493db9ed7c1fcfe5ba817aecaf32efdaaa1314c81276f9df",
    "asof_click_to_purchase":
        "394999b8f74471e73d25e52b8547888fc532a4f8c3ca0199ee3572b14b434608",
    "bm25_topk_postings":
        "6157598e5030c9024ff2869f9feabde509fdf5f7887051d8c0e1d6248b62c0e2",
    "decon_test_train_overlap":
        "74309efb8a340e082e2cf1631faac3f2072addd5ca6db0fa765c063ae7370aca",
    "dedup_cluster_components":
        "c0c06a9fbb9838be20770e3187e053ed7dfc44e31cbeaf6cd0d7b4906cdf0c6b",
    "dedup_corpus_representatives":
        "fcc4467ef95814f871366200af940270100b35ad971c979b28a41b1190f7e787",
    "dedup_exact_hash":
        "be87c721bfd5bd0c6e69f2b11fb1cab44fd78d6a223df6b8b0402fa55369d9c8",
    "dedup_incremental_new_docs":
        "30f9939b5ace17c2f4f33d423abdf51088d2af4ebecc45252b8635b21ab5e661",
    "dedup_minhash_lsh_pairs":
        "a20abc9dc18729d6528cc5f46eaa4e12e09a6b252c270b974b5c81edad0fe95c",
    "dedup_ngram_jaccard":
        "1bc72cee5bce827d4b384a979be1727f0266e87fa4b875a5523193770dd4ce08",
    "dedup_simhash_near_pairs":
        "faeef9b19dde46641a26871846fcb602af6c416d81da33d7341250b104832436",
    "distinct_projection_sorted":
        "3a1030f25aec1d783906923f01bb183de155cd7fcf4678982b3816a906e62514",
    "emb_label_centroids":
        "dcf5c8b9d85a99e67b375af262abed7db7370a38682b1ccb67275fc9e172e268",
    "events_peak_concurrency":
        "f1630b32980b674cb3e4b9c18baadf5712c70ccb60bb02d93e747e1e2ad65ba0",
    "filter_conjunctive":
        "d4f349e41b6dc97cab9526523348cad218e7fcfa9b6410b2d9f3f55f7fc3d941",
    "filter_parameterized":
        "033a4fd840c29989e25d74f49df923b807320039634020d7a98cfb9863e8a00e",
    "funnel_ordered_conversion":
        "9cc3a7c7209cea41134ca920abf3ef89abdee0c9d152c63cd358c4a58b349046",
    "graph_pagerank_influence":
        "8fd6046f944e8d45ae630359acd922b416af9d1790b278ce42c4e1e196b8f187",
    "join_left_outer_counts":
        "259ec08ff49447b5fecba7250d2eed2225c024c3fdec3ad378a52ed5dc9cc5b7",
    "join_semi_anti":
        "c3962b098993db2897148e99a44158f856c3658101030df14df65da01616af86",
    "mart_pareto_concentration":
        "da7334931a2ea195056244afd9e42fed1897291fc584518b64efca786d8e5c8c",
    "mart_revenue_gini":
        "61008d6953f3efc9ffea2e18e513774cc8f3ab55751bf837c8c830216411dfdd",
    "media_bmp_real_resize":
        "cf7c2b65e01332f3ae7c0b01cd109ff7b2f62773ff52b74aaf2427f3ca3ca7d7",
    "media_catalog":
        "3c31cb7d4ad5675fa58b6f4b82f291e4b85b857a0de7fa81bcb2f1b46ab00182",
    "media_feature_extract":
        "a991ec8bb91b41ec38028fdcc69bc4e9e14e9f2dd3a9ff24c1f26c37a052cbf5",
    "media_frame_sample":
        "696293622280f9a2fcdf6a4758b9e15761f2566e7cb5f90f0012211363c7c027",
    "media_jpeg_real_decode":
        "b3216a95b12714164a59f835f951bb6fe766a5fb7bbc1be1c1aaa3914cea1acf",
    "media_wav_real_decode":
        "923dfd3d6d77a8d516b89ba22d4e7bc14b3d9e2263f76c2ec5b93850ed48a977",
    "ohlc_hourly":
        "3bd1b4b357c70b446a6a24f846a9d5e4eeb325741cfd6b34902e240a675f9ecb",
    "pack_context_windows":
        "635eb5d6a39e2ee3c630460389495fe541ed8998446c975d4e305556f0f36365",
    "pack_token_budget_shards":
        "d316b6dc950ef3d66371af6797dc1b3241562b53cf181a302927ca50799ec19e",
    "pipeline_training_funnel":
        "e7277adc1a7cfc2e6065de1503f6f4422fd2bcfedf76f4e328246d2ea8a30949",
    "pivot_event_type_counts":
        "a8f0a6d5ca4ec91eff6f0972348418b0a946dbe073cbf538cd4ef14e9e8443b8",
    "q1_net_revenue_by_nation":
        "7d27bce4bfabfa894578afe0c352f8e49f068a5c696b26eec295957a15602cb8",
    "q2_monthly_price_history":
        "01a2a845ab7468e24c18bdf368d25a5386319dc7095f5e83739ba6b860a36224",
    "q3_top_customers":
        "61f7025dafdd0b58b1ff905ea737c8aaa01f7ecd9a46e564aadc994fe108666e",
    "q4_part_popularity":
        "490a8bcc009a38ec078a7503f083b099a7c4a98ccc2aff734a4f03c43a10a980",
    "q5_regional_local_supplier_volume":
        "5cf0404408bdfdf5e8857e2970e7050b2713b8cb09d4602f41a55cdb7481476c",
    "q6_forecast_revenue_change":
        "1896f71f3d3c61d3f6b951e0222863591db7e2ba5c8adbbe50e5af8ccede7e85",
    "range_join_error_bursts":
        "a5fcb0e30f8d30e13c4f7ad0c0bf1d1a2133c9f841ff20eefff58586bf74324d",
    "sample_stratified_by":
        "ef45cf71484c0a12caf3b6a127814289188acaceb00cc40e15c96e687cbddd03",
    "scalar_array_kit":
        "a88436fa5ef65d95f21d0888d2ef25f4c541d245acb9d22e1eeb1ccad0118a4d",
    "scalar_date_arith":
        "e138b0ad0d5644e0f2cc7ba093ed67c826dc03e84097a487237711013d5163e6",
    "scalar_date_smart_key":
        "0fbfeb3dc901ceefe99c73d79de1127fdd0e3f42a62f293988f4bc649ba8e2b8",
    "scalar_json_extract":
        "87500771b60db42d350a1acc9bddc5b5ce0751f64fe165264fc9ce067db880f2",
    "scalar_string_extended":
        "0579d19aafc80f646121a6254188373e83f2cc8426a874645fcf289155354243",
    "scd2_dimension_merge":
        "c3194397dea4cdb4c7b5bdea572771d36bb5d79538301334c06c612e60916adf",
    "session_window_stats":
        "a505432dbd3b8915d2cb6c8dcd4b0002221fba8c545647a4da818f7de9e92dfb",
    "sessionize_by_gap":
        "cadc11ab8fce6982a4ffee6380bf0dc5700a90ae06b7375f222d6ecc29dfe68e",
    "setop_except_all_bag":
        "94ea24638a5e3350ce86346fa03921dcd3c834f949e374a57dbacdd5a27dc599",
    "setop_union_by_name_missing":
        "65add2f193d7b197aa1a3c6c7dbbc3836621c0cb6b3c11015acc48eeada60c11",
    "silver_clean_fact":
        "acd255426cdb5a7c988fe7a3df42397923fb6ec24def45d3076095b35dc8bd66",
    "silver_dedup_by_key":
        "6f0fe265888e2245ef40db1da172d3e7ee58a15e9205596d7df0c7a079fb8618",
    "silver_derive_flag":
        "c00adf557a5451aebd7ab784f3732fe256447f11d20516b4d4310012e41e0e13",
    "silver_null_repair":
        "803ad6524ffb49c52976cc351ac441ada69ee338dd96a6c75859dfbbb1a0ada7",
    "sim_band_recall":
        "cc1657204c5757fff6d75c1f2248025cc92ff4756aecb86863f0e9329790bef4",
    "sim_bucket_stats":
        "1c59c5ca5f8da80260fffa0371d61b425e2aba30c63f09c1b50e6c2e86e8424b",
    "sim_ivf_cell_quality":
        "7846f953231c54c831c3d702bf52d8e72d30a71d015c7d1f37f21619141fe335",
    "sim_near_dup_pairs":
        "987829ac62df15077c1c0ee1a339e45167e05e3c7ff81a8e36aa4043b7f1ff99",
    "sim_pq_quality":
        "4461006c7d7193d56c634233c9b506ce007b8bb1bfbefcbb80266bd3b97c5a23",
    "sim_similar_pairs":
        "c3973077f8b3996b548cc83aeaf3767ac591c8aca57f9cbe105aaa3d97f2c49f",
    "sim_topk_batch":
        "211d5b94e1c37e809496827371f5284a1f464769391eec756e2fa45e08634fb7",
    "sim_topk_bruteforce":
        "bd62785cb44b209f70bfe667136d9c4dd7324b0bfbdb78b0958decfdf34d03b2",
    "sim_topk_ivf":
        "894b78fb42d5358a6934bc7dfd68d5e966d033a268db695b1fef29c5c2492039",
    "sim_topk_vectorized":
        "bd62785cb44b209f70bfe667136d9c4dd7324b0bfbdb78b0958decfdf34d03b2",
    "skew_salted_type_profile":
        "d94017917fc19cb3f78792c2cbec313ff3c47e24c57740f96bb5112d8597636a",
    "sliding_window_counts":
        "0b15d370ae0c544cbb40bbca5901aef562e5e514c7ae351d3b46f2e72d66e5db",
    "stream_dedup_keys":
        "9e5ebcda698a3c6e90248de1602a565d51d1e9b80917996c03eaa767e1a24d05",
    "stream_incremental_new_docs":
        "30f9939b5ace17c2f4f33d423abdf51088d2af4ebecc45252b8635b21ab5e661",
    "stream_session_stats":
        "a505432dbd3b8915d2cb6c8dcd4b0002221fba8c545647a4da818f7de9e92dfb",
    "stream_static_enrich":
        "7009132da2902770cd770160afd870412b979df3ddc19736e2508363aa1ac0a3",
    "stream_stream_interval_join":
        "d3a5a94025134a28b372cd7d442a1c041ba82adf0a6434316f56e67ee04e0501",
    "stream_tumbling_hourly":
        "c9a5f8d0051780f4726b966a184408fde753d18361f1ecd66678be530e0c08b0",
    "stream_user_running_totals":
        "f26dac33a0941d4572ac90731972b313a0f7ec893638d582bf3c1680b2c412c0",
    "subquery_correlated_above_avg":
        "c9741940fc95da21180575e4cd530b4e1131e70dd707a157fcd55f5fe982eb96",
    "text_bm25_topk":
        "e06d0809ea574166ea7c783c8265a298ebbf3311f0b9efbceaf77078bc96bc56",
    "text_dedup_span_removal":
        "c848f406d48258e6b9f94ff7204b1ed1efd033c9eabbfe8f04ba18852abfb6ea",
    "text_fingerprint":
        "7073acacf11c4080a0f25c4e8b07b3499c88366fc3b9182b1f0056731b78cada",
    "text_language_id":
        "e5f73454471badc38f5330a515afe5cf163000dbaca12610e0e1351fce686523",
    "text_length_trim":
        "4ca97b31c0a7954a823abdba4ae5059ac27bf9a522205a9359316951711986cc",
    "text_pii_scrub":
        "831d70c9235cbc4c7f4db341f618d5b64268b9273e27a29ff8d0d54eccda643e",
    "text_quality_gate":
        "50846b1cf92ade030f91900477261703774c3980a5f84e2d34bceb0f1a2bae97",
    "text_quality_signals":
        "47b0019853fd902e5c5dd1dcfb70d3aa06d450658ae9ac60fcb02f5eebb274c7",
    "text_repetition_signals":
        "51f8d0cf3ad8123738501a746f2f032b05c2e69dd19f163e13c2e4333734827b",
    "text_token_frequencies":
        "2100c8d4c3ad3c30618ab8d7f606909e9ab8f2313b21bcaf2fdc3e6d3c737f7f",
    "text_token_stats":
        "a09eea27c404c823d1a1555d5a32ca5b5da20ac14800059d570feb420e15c5fb",
    "text_winnowing_fingerprints":
        "bb1acacaab663e5f82fe234c1edc9bc710093b4aeb7af9d9141679709f239584",
    "tumbling_hourly_stats":
        "c9a5f8d0051780f4726b966a184408fde753d18361f1ecd66678be530e0c08b0",
    "twap_daily":
        "0e540b643551c0637053be12925d9cd1fcfd8b827a5a140ef9ecb9f20e872c37",
    "unpivot_measures":
        "409e189c951f6bad613beb249f8bb8de12ca52754eb181b26060469186122280",
    "window_distribution_family":
        "6cc3df14f065af135b99e5da652ad26d09d85ec50a65903069dbc8563bb68475",
    "window_lag_lead":
        "a533998c36c9de43f58a370895250b5cbb55bf248b7d3daedfa87855aac4261b",
    "window_rank_user_events":
        "7abb85ef7aaaf19e3d167739a4d1d3f9eb1e4ef428398ae7b7f97978c0e8575e",
    "window_running_total":
        "a0171a3c93c0f4079bb1a5940b3b5a4b53bf506c537fb73d8ecab7fb1873402a",
}
