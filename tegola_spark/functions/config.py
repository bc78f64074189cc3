"""Typed config values with env-var substitution (reference P12).

Env-var substitution semantics from internal/env/parse.go:11-44:
``${VAR}`` references are replaced from the environment anywhere in
config strings; a missing variable is an error (EnvVar required).
``${VAR:-default}`` extension: fall back to a default (tegola's env
package has typed defaults; the shell-style spelling is clearer here).
:class:`EnvDict` layers the reference's typed accessors over that.
No output path reads a config file yet; the module stays for the
reference env-dict table (tests/test_env_dict.py).
"""

from __future__ import annotations

import os
import re

_ENV_RE = re.compile(r"\$\{([A-Za-z_][A-Za-z0-9_]*)(?::-(.*?))?\}")


class MissingEnvVar(KeyError):
    pass


def substitute_env(value, env=None):
    """Recursively substitute ${VAR} / ${VAR:-default} in strings within
    any nested dict/list/str structure."""
    if env is None:
        env = os.environ

    def sub_str(s: str) -> str:
        def repl(m: re.Match) -> str:
            name, default = m.group(1), m.group(2)
            if name in env:
                return env[name]
            if default is not None:
                return default
            raise MissingEnvVar(f"config references unset env var ${{{name}}}")
        return _ENV_RE.sub(repl, s)

    if isinstance(value, str):
        return sub_str(value)
    if isinstance(value, dict):
        return {k: substitute_env(v, env) for k, v in value.items()}
    if isinstance(value, list):
        return [substitute_env(v, env) for v in value]
    return value


class ConfigTypeError(TypeError):
    pass


def _parse_bool(s: str) -> bool:
    # strconv.ParseBool (dict.go Bool path)
    if s in ("1", "t", "T", "true", "TRUE", "True"):
        return True
    if s in ("0", "f", "F", "false", "FALSE", "False"):
        return False
    raise ConfigTypeError(f"invalid bool {s!r}")


class EnvDict(dict):
    """internal/env Dict analog (internal/env/dict.go, table at
    dict_test.go:104-490): typed accessors over a config dict where any
    value may be (a) already the native type, (b) a string containing
    ``${VAR}`` references substituted before parsing, or (c) for slice
    accessors, a comma-separated string ("foo, bar" -> ["foo", "bar"]).
    A missing env var raises MissingEnvVar; a missing KEY returns the
    scalar ``default`` (error when None) or the empty slice."""

    def __init__(self, d=None, env=None):
        super().__init__(d or {})
        self._env = env

    def _raw(self, key):
        v = self[key]
        if isinstance(v, str):
            return substitute_env(v, self._env)
        return v

    def _scalar(self, key, default, caster, want):
        # a key present with a nil value behaves like a missing key
        # (internal/env/dict.go returns the default / ErrKeyRequired)
        if key not in self or self[key] is None:
            if default is not None:
                return default
            raise KeyError(key)
        v = self._raw(key)
        if isinstance(v, str):
            return caster(v)
        if want is int and isinstance(v, bool):  # bool is an int in py
            raise ConfigTypeError(f"{key}: bool is not {want.__name__}")
        if isinstance(v, want):
            return want(v)
        if want is float and isinstance(v, int) and not isinstance(v, bool):
            return float(v)
        raise ConfigTypeError(f"{key}: {type(v).__name__} is not "
                              f"{want.__name__}")

    def _slice(self, key, caster, want):
        if key not in self or self[key] is None:
            return []
        v = self._raw(key)
        if isinstance(v, str):
            parts = [p.strip() for p in v.split(",")]
            return [caster(p) for p in parts if p != ""]
        if isinstance(v, (list, tuple)):
            return [self.__class__({"_": x}, self._env)._scalar(
                "_", None, caster, want) for x in v]
        raise ConfigTypeError(f"{key}: {type(v).__name__} is not a slice")

    def string(self, key, default=None):
        return self._scalar(key, default, str, str)

    def string_slice(self, key):
        return self._slice(key, str, str)

    def bool(self, key, default=None):
        return self._scalar(key, default, _parse_bool, bool)

    def bool_slice(self, key):
        return self._slice(key, _parse_bool, bool)

    def int(self, key, default=None):
        return self._scalar(key, default, int, int)

    def int_slice(self, key):
        return self._slice(key, int, int)

    def uint(self, key, default=None):
        v = self._scalar(key, default, int, int)
        if v < 0:
            raise ConfigTypeError(f"{key}: negative value {v} is not uint")
        return v

    def uint_slice(self, key):
        out = self._slice(key, int, int)
        for v in out:
            if v < 0:
                raise ConfigTypeError(f"{key}: negative value {v} is not uint")
        return out

    def float(self, key, default=None):
        return self._scalar(key, default, float, float)

    def float_slice(self, key):
        return self._slice(key, float, float)

