"""Config-surface tests: secret string-vs-binary decode branch and
auth-mode selection (reference lambda_function.py:25-41,61-66)."""

from __future__ import annotations

import base64
import json
import re
from pathlib import Path

from kinesis_to_opensearch_lambda_spark.config import EngineConfig, decode_secret

SECRET = {
    "splunk_hec_url": "https://hec.example/collector",
    "splunk_hec_token": "tok-1",
    "splunk_index": "audit",
    "splunk_disabled": "false",
    "user": "svc",
    "password": "pw",
}


def test_secret_string_branch():
    assert decode_secret(secret_string=json.dumps(SECRET)) == SECRET


def test_secret_binary_branch_base64():
    blob = base64.b64encode(json.dumps(SECRET).encode())
    assert decode_secret(secret_binary=blob) == SECRET


def test_config_from_env_and_secret():
    cfg = EngineConfig.from_env_and_secret(
        env={"es_endpoint": "https://es.example", "index_prefix": "audit-"},
        secret_string=json.dumps(SECRET),
    )
    assert cfg.es_endpoint == "https://es.example"
    assert cfg.index_prefix == "audit-"
    assert cfg.splunk_index == "audit"
    assert cfg.auth_mode == "basic"          # creds present (:61-64)
    assert cfg.splunk_disabled == "false"    # truthy-but-enabled quirk


def test_auth_mode_sigv4_without_creds():
    cfg = EngineConfig.from_env_and_secret(env={}, secret_string="{}")
    assert cfg.auth_mode == "sigv4"          # no secret creds (:65-66)


def test_reference_shaped_secret_keys_enable_basic_auth():
    """ADVICE r1: the reference secret carries master_user_name /
    master_user_password (lambda_function.py:63) — a reference-shaped
    secret must NOT silently degrade to sigv4."""
    cfg = EngineConfig.from_env_and_secret(
        env={},
        secret_string=json.dumps(
            {"master_user_name": "admin", "master_user_password": "s3cret"}
        ),
    )
    assert cfg.auth_user == "admin"
    assert cfg.auth_password == "s3cret"
    assert cfg.auth_mode == "basic"
    assert "master_user_name" not in cfg.extra  # consumed, not passthrough


def test_generic_user_password_fallback_still_works():
    cfg = EngineConfig.from_env_and_secret(
        env={}, secret_string=json.dumps({"user": "svc", "password": "pw"})
    )
    assert cfg.auth_mode == "basic"
    assert cfg.auth_user == "svc"


# Deployment settings (paths, cores, memory) are the only environment
# the engine reads besides config.py's reference surface; execution
# layout is derived from the input, never set by a tuning variable.
DEPLOYMENT_ENV = {
    "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_SF_DIR",
    "SPARK_GRAFT_CHECKPOINT_DIR",
    "SPARK_DRIVER_MEMORY",
    "SPARK_GRAFT_MAX_RESULT_SIZE",
}
REFERENCE_ENV = {"es_endpoint", "index_prefix"}  # lambda_function.py:57-59


# An environment read: os.environ.get(KEY / os.environ[KEY / os.getenv(KEY;
# KEY is a string literal or a module-level string constant.  A bare
# `os.environ` (the whole mapping) captures an empty key.
_ENV_READ = re.compile(r'\b(?:environ\.get\(|environ\[|getenv\(|environ\b)\s*("\w*"|\w*)')


def test_env_reads_are_deployment_settings_only():
    """Knob-creep guard: every environment read in the package names a
    deployment setting.  config.py alone takes the whole environment,
    and reads only the reference's own keys from it."""
    import kinesis_to_opensearch_lambda_spark as pkg

    root = Path(pkg.__file__).parent
    found, bad = set(), []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        src = path.read_text()
        consts = dict(re.findall(r'^(\w+) = "(\w+)"$', src, re.M))
        for m in _ENV_READ.finditer(src):
            name = consts.get(m.group(1), m.group(1).strip('"'))
            if name in DEPLOYMENT_ENV:
                found.add(name)
            elif not (name == "" and rel == "config.py"):
                line = src.count("\n", 0, m.start()) + 1
                bad.append(f"{rel}:{line} reads {name or 'the whole environment'}")
    assert not bad, bad
    assert found == DEPLOYMENT_ENV  # the scan sees every allowed read
    config = (root / "config.py").read_text()
    config_keys = set(re.findall(r'\benv\.get\("(\w+)"', config))
    assert config_keys == REFERENCE_ENV
