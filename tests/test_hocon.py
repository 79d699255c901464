"""HOCON job-config tests — including the reference's own template file
(config/v2.batch.config.template) running unchanged."""

import pytest

from seatunnel_spark.job.hocon import HoconError, parse_hocon
from seatunnel_spark.job.spec import JobSpec


def test_parse_scalars_and_nesting():
    cfg = parse_hocon("""
    env {
      parallelism = 2
      job.mode = "BATCH"
      frac = 0.5
      flag = true
      nothing = null
    }
    """)
    env = cfg["env"]
    assert env["parallelism"] == 2 and env["job.mode"] == "BATCH"
    assert env["frac"] == 0.5 and env["flag"] is True and env["nothing"] is None


def test_plugin_sections_keep_duplicates():
    cfg = parse_hocon("""
    source { FakeSource { plugin_output = "a" } FakeSource { plugin_output = "b" } }
    sink { Console {} Console { limit = 5 } }
    """)
    assert [s["plugin_output"] for s in cfg["source"]] == ["a", "b"]
    assert len(cfg["sink"]) == 2 and cfg["sink"][1]["limit"] == 5


def test_arrays_maps_and_comments():
    cfg = parse_hocon("""
    transform {
      Filter {
        # keep these
        include_fields = [name, age]  // trailing comment
      }
      Copy { fields { new_name = name } }
    }
    """)
    t = cfg["transform"]
    assert t[0]["include_fields"] == ["name", "age"]
    assert t[1]["fields"] == {"new_name": "name"}


def test_variable_substitution():
    cfg = parse_hocon(
        'source { LocalFile { path = "${data_dir}/x.parquet" } }',
        {"data_dir": "/tmp/data"},
    )
    assert cfg["source"][0]["path"] == "/tmp/data/x.parquet"
    # Unknown placeholders stay literal (typesafe-config doesn't
    # substitute inside quoted strings; consumers resolve their own,
    # e.g. MicrosoftModel's ${model} in llm_microsoft_transform.conf:52).
    cfg = parse_hocon('env { p = "${missing}" }')
    assert cfg["env"]["p"] == "${missing}"


def test_reference_template_parses_and_runs(spark):
    """The reference's shipped template job runs end-to-end unchanged."""
    spec = JobSpec.from_hocon("/root/reference/config/v2.batch.config.template")
    assert spec.env["job.mode"] == "BATCH"
    assert spec.sources[0].plugin == "FakeSource"
    assert spec.sources[0].options["row.num"] == 16
    assert spec.sources[0].options["schema"] == {
        "fields": {"name": "string", "age": "int"}
    }
    from seatunnel_spark.job.engine import JobEngine

    tables = JobEngine(spark).run(spec)
    assert tables["fake"].count() == 16


def test_cli_runs_hocon_job(spark, sf_dir, tmp_path, capsys):
    conf = tmp_path / "job.conf"
    conf.write_text(f"""
    env {{ job.mode = "BATCH" }}
    source {{
      LocalFile {{
        plugin_output = "li"
        path = "{sf_dir}/lineitem.parquet"
        file_format_type = "parquet"
      }}
    }}
    transform {{
      Sql {{
        plugin_input = "li"
        plugin_output = "agg"
        query = "SELECT l_returnflag, COUNT(*) AS n FROM li GROUP BY l_returnflag"
      }}
    }}
    sink {{ Console {{ plugin_input = "agg" }} }}
    """)
    from seatunnel_spark.__main__ import main

    assert main(["--config", str(conf)]) == 0
    out = capsys.readouterr().out
    assert "l_returnflag" in out


@pytest.mark.parametrize("path", ["/nonexistent/jobs/batch.conf",
                                  "missing_job.conf", "jobs/missing"])
def test_missing_config_path_raises_file_not_found(path):
    with pytest.raises(FileNotFoundError, match="not found"):
        JobSpec.from_hocon(path)
    with pytest.raises(FileNotFoundError):
        JobSpec.from_file(path)


def test_one_line_hocon_text_still_parses():
    spec = JobSpec.from_hocon('env { job.mode = "BATCH" }')
    assert spec.mode == "BATCH"
    assert JobSpec.from_hocon("parallelism: 2").sources == []
    assert JobSpec.from_hocon("path:/tmp/x").sources == []
