"""Run the REFERENCE'S OWN e2e job configs, unmodified, straight from
/root/reference (read-only) — the strongest switch-compatibility
proof: FakeSource -> transform-under-test -> Assert sink, the exact
files the reference's Testcontainers suite executes
(seatunnel-e2e/seatunnel-transforms-v2-e2e/*/src/test/resources/)."""

import os

import pytest

from conftest import reference_params, reference_path
from seatunnel_spark.job.engine import JobEngine
from seatunnel_spark.job.spec import JobSpec

_E2E = reference_path("seatunnel-e2e/seatunnel-transforms-v2-e2e")
_P1 = f"{_E2E}/seatunnel-transforms-v2-e2e-part-1/src/test/resources"
_P2 = f"{_E2E}/seatunnel-transforms-v2-e2e-part-2/src/test/resources"
_CONN = reference_path("seatunnel-e2e/seatunnel-connector-v2-e2e")
_ASSERT = f"{_CONN}/connector-assert-e2e/src/test/resources/assertion"
_FAKE = f"{_CONN}/connector-fake-e2e/src/test/resources"

# Confs whose pipeline uses only FakeSource + transforms + Assert/Console
# (no external services, no model endpoints).
REFERENCE_CONFS = [
    f"{_P1}/copy_transform.conf",
    f"{_P1}/filter_transform.conf",
    f"{_P1}/split_transform.conf",
    f"{_P2}/field_mapper_transform.conf",
    f"{_P2}/field_mapper_transform_without_result_table.conf",
    f"{_P2}/sql_transform.conf",
    f"{_P2}/replace_transform.conf",
    f"{_P2}/sql_transform/func_string.conf",
    f"{_P2}/sql_transform/func_numeric.conf",
    f"{_P2}/sql_transform/func_from_unixtime.conf",
    f"{_P2}/sql_transform/case_when.conf",
    f"{_P2}/sql_transform/criteria_filter.conf",
    f"{_P2}/sql_transform/binary_expression.conf",
    f"{_P2}/sql_transform/sql_all_columns.conf",
    f"{_P2}/sql_transform/explode_transform.conf",
    f"{_P2}/sql_transform/explode_transform_with_outer.conf",
    f"{_P2}/sql_transform/explode_transform_without_outer.conf",
    f"{_P2}/sql_transform/func_array.conf",
    f"{_P2}/sql_transform/func_datetime.conf",
    f"{_P2}/sql_transform/func_split.conf",
    f"{_P2}/sql_transform/func_system.conf",
    f"{_P2}/sql_transform/inner_query.conf",
    f"{_P2}/spark_date_time_transform.conf",
    f"{_P1}/filter_row_kind_exclude_delete.conf",
    f"{_P1}/filter_row_kind_exclude_insert.conf",
    f"{_P1}/filter_row_kind_include_insert.conf",
    f"{_P1}/rowkind_extractor_transform_case1.conf",
    f"{_P1}/rowkind_extractor_transform_case2.conf",
    # Multi-table jobs (FakeSource tables_configs -> per-table transform
    # routing -> Assert tables_configs):
    f"{_P1}/copy_transform_multi_table.conf",
    f"{_P1}/filter_row_kind_exclude_insert_multi_table.conf",
    f"{_P1}/filter_transform_multi_table.conf",
    f"{_P1}/rowkind_extractor_transform_case1_multi_table.conf",
    f"{_P2}/field_mapper_transform_multi_table.conf",
    f"{_P2}/replace_transform_multi_table.conf",
    f"{_P2}/metadata_multi_table.conf",
    f"{_P2}/table_field_rename_multi_table.conf",
    f"{_P2}/table_merge_multi_table.conf",
    f"{_P2}/sql_transform_multi_table.conf",
    # JSON config format (docs/en/concept/config.md: JSON jobs)
    f"{_P1}/filter_row_to_next_transform.json",
    # JsonPath transform suite (incl. HOCON value-concatenation
    # templates and the lenient-JSON extraction they require)
    f"{_P2}/json_path_transform/json_path_basic_type_test.conf",
    f"{_P2}/json_path_transform/json_path_basic_type_test_multi_table.conf",
    f"{_P2}/json_path_transform/array_test.conf",
    f"{_P2}/json_path_transform/json_path_with_error_handle_way.conf",
    f"{_P2}/json_path_transform/nested_row_test.conf",
    # Connector e2e: Assert + FakeSource suites (full type matrix,
    # ranges, templates, catalogtable, multi-table modes)
    f"{_ASSERT}/fake_full_types_to_assert.conf",
    f"{_ASSERT}/fake_row_to_assert.conf",
    f"{_ASSERT}/fakesource_to_assert.conf",
    f"{_ASSERT}/fakesource_to_multi_table_assert.conf",
    f"{_FAKE}/fake_generic_row_type_to_assert.conf",
    f"{_FAKE}/fake_to_assert.conf",
    f"{_FAKE}/fake_to_assert_verify_flink_metrics.conf",
    f"{_FAKE}/fake_to_assert_with_catalogtable.conf",
    f"{_FAKE}/fake_to_assert_with_compatible_source_and_result_table_name.conf",
    f"{_FAKE}/fake_to_assert_with_range.conf",
    f"{_FAKE}/fake_to_assert_with_tablenames.conf",
    f"{_FAKE}/fake_to_assert_with_template.conf",
    f"{_FAKE}/fake_to_console_with_multitable_mode.conf",
]
# Runnable elsewhere:
#  - llm_*/embedding_* (all 11): tests/test_llm_mock.py runs them
#    against a local replay of the reference's own MockServer
#    expectations (host alias mockserver->127.0.0.1).
# Not runnable here, by reason:
#  - dynamic_compile/*: inline Java/Groovy source (ours takes Python).
#  - split_transform_multi_table.conf: inherently probabilistic — its
#    f2 NOT_NULL rule only holds if every random int contains the digit
#    "1" (separator), which no generator guarantees.


@pytest.mark.parametrize(
    "conf", reference_params(REFERENCE_CONFS),
    ids=lambda c: os.path.basename(c),
)
def test_reference_conf_runs_unmodified(spark, conf):
    spec = JobSpec.from_file(conf)
    # Assert sinks raise on any violated rule; success == reference parity.
    JobEngine(spark).run(spec)


def test_multitable_exception_conf_fails_as_designed(spark):
    """fake_to_assert_with_multitable_exception.conf is the reference's
    NEGATIVE e2e: its Assert rules are intentionally violated and the
    job must fail."""
    from seatunnel_spark.sinks.assert_sink import AssertError

    conf = f"{_FAKE}/fake_to_assert_with_multitable_exception.conf"
    if not os.path.exists(conf):
        pytest.skip("reference conf missing")
    with pytest.raises(AssertError):
        JobEngine(spark).run(JobSpec.from_file(conf))


def test_reference_sql_config_job(spark):
    """The reference's SQL-config-format e2e job (fake_to_assert.sql:
    CREATE TABLE ... WITH + INSERT INTO ... SELECT, sql-config.md)."""
    conf = f"{_FAKE}/fake_to_assert.sql"
    if not os.path.exists(conf):
        pytest.skip("reference conf missing")
    JobEngine(spark).run(JobSpec.from_sql(open(conf).read()))
