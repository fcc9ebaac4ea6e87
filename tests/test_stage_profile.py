"""tools/stage_profile.py on the shared session, where the Spark UI is off:
stage rows and audit totals come from the status store."""

import os
import sys

from tests.conftest import REPO_ROOT, SF_SMOKE

sys.path.insert(0, os.path.join(REPO_ROOT, "tools"))

import stage_profile  # noqa: E402


def test_profile_reports_url_count_stages(spark):
    assert spark.sparkContext.getConf().get("spark.ui.enabled") == "false"
    prof = stage_profile.profile(spark, "url_count", SF_SMOKE)
    assert prof["jobs"] >= 1
    assert len(prof["stages"]) >= 1
    assert sum(r["sh_w_mb"] for r in prof["stages"]) > 0


def test_audit_row_for_url_count(spark, tmp_path):
    rows = stage_profile.audit(spark, ["url_count"], SF_SMOKE)
    (name, stages, input_b, shuffle_w, shuffle_r, err), = rows
    assert (name, err) == ("url_count", "")
    assert stages >= 1 and shuffle_w > 0 and shuffle_r > 0
    out = tmp_path / "audit.md"
    stage_profile.write_audit(rows, SF_SMOKE, str(out))
    assert "| `url_count` |" in out.read_text()
