"""megalista_spark — a PySpark-native data-activation / analytics engine.

A ground-up rebuild of the capabilities of google/megalista (reference at
/root/reference, Apache Beam) as an idiomatic Spark engine:

- declarative schema registry with regex columns + "at least one of" groups
  (reference: megalista_dataflow/data_sources/data_schemas.py)
- transactional anti-join dedup against control tables
  (reference: data_sources/big_query/big_query_data_source.py:76-116)
- PII hashing / normalization as native Spark SQL expressions
  (reference: mappers/abstract_list_pii_hashing_mapper.py)
- chunked, retrying, rate-limited sink executor in one ``mapInArrow`` pass
  (reference: uploaders/*)
- plus large-scale training-data-pipeline operators (dedup, similarity
  search, text analysis) designed for 100 TB scale.

Everything relational is expressed through the DataFrame API so Catalyst
handles pruning, pushdown, and join strategy selection.
"""

def _pyproject_version(text: str) -> "str | None":
    """Parse [project] name/version out of pyproject.toml text. Uses a
    line regex, not tomllib (3.11+ only, while requires-python is
    >=3.10). Returns None unless the file really is THIS package's
    (a vendored copy inside another repo must not report the host
    project's version)."""
    import re

    name = re.search(r'^name\s*=\s*["\']([^"\']+)["\']', text, re.M)
    ver = re.search(r'^version\s*=\s*["\']([^"\']+)["\']', text, re.M)
    if name and ver and name.group(1) == "megalista-spark":
        return ver.group(1)
    return None


def _detect_version() -> str:
    """One source of truth for the package version: a repo checkout reads
    pyproject.toml (so dev trees can never drift from the release file);
    an installed wheel/sdist — which doesn't ship pyproject.toml — reads
    its own dist metadata. The string literal below is only the
    last-resort fallback for exotic vendored copies."""
    import pathlib

    pyproject = pathlib.Path(__file__).resolve().parent.parent / "pyproject.toml"
    try:
        if pyproject.is_file():
            got = _pyproject_version(pyproject.read_text())
            if got:
                return got
    except Exception:
        pass
    try:
        from importlib.metadata import version

        return version("megalista-spark")
    except Exception:
        return "0.0.0+unknown"


__version__ = _detect_version()
