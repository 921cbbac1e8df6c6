"""Template machinery — reimplements morph-core TemplateUtility.scala.

A template string like
    ``http://ex.org/{ID}/{Column(NAME)/XPath(\\/\\/LastName)}``
has groups between ``{`` and ``}`` that are either plain references or
mixed-syntax paths (which may themselves contain braces). The reference
survives nested braces with a placeholder trick (TemplateUtility.scala:78-88);
we reuse the same approach so group extraction is behavior-identical.

Functions:
  * ``get_template_groups``    — getTemplateGroups   (:90-117)
  * ``get_template_columns``   — getTemplateColumns  (:127-137)
  * ``replace_template_groups``— replaceTemplateGroups (:148-202): Cartesian
    product of all group value lists (cartesianProduct :210-250); an empty
    group list contributes the empty string "".
  * ``get_template_matching``  — getTemplateMatching (:36-69): inverse match.
  * ``compatible_template_strings`` — compatibleTemplateStrings (:260-281).
"""

from __future__ import annotations

import itertools
import re

from .paths import MIXED_SYNTAX_PATH_RE, MixedSyntaxPath, REFFORMULATION_COLUMN
from .terms import lex_value_to_string

_PLACEHOLDER = "xR2RML_replacer"
_GROUP_RE = re.compile(r"\{([^{}]+)\}")


def _mask_paths(template: str) -> tuple[str, list[str]]:
    """Replace each mixed-syntax path with a placeholder; return masked
    template + the original paths in order."""
    paths: list[str] = []

    def _sub(m: re.Match) -> str:
        paths.append(m.group(0))
        return _PLACEHOLDER

    return MIXED_SYNTAX_PATH_RE.sub(_sub, template), paths


def _unmask(s: str, paths: list[str], cursor: list[int]) -> str:
    """Restore placeholders with original paths, consuming from `paths`."""
    while _PLACEHOLDER in s and cursor[0] < len(paths):
        s = s.replace(_PLACEHOLDER, paths[cursor[0]], 1)
        cursor[0] += 1
    return s


def get_template_groups(template: str) -> list[str]:
    """Extract '{...}' group bodies, mixed-syntax paths restored."""
    masked, paths = _mask_paths(template)
    cursor = [0]
    return [_unmask(m.group(1), paths, cursor) for m in _GROUP_RE.finditer(masked)]


def get_template_columns(template: str) -> list[str]:
    """Columns referenced by each group (Column formulation)."""
    out = []
    for g in get_template_groups(template):
        msp = MixedSyntaxPath.parse(g, REFFORMULATION_COLUMN)
        out.append(msp.referenced_column or "")
    return out


def cartesian_product(lists: list[list[object]]) -> list[list[object]]:
    """cartesianProduct (:210-250): all combinations, last list varying
    fastest; an empty input list contributes '' to every combination."""
    effective = [lst if lst else [""] for lst in lists]
    return [list(combo) for combo in itertools.product(*effective)]


def replace_template_groups(
    template: str, replacements: list[list[object]]
) -> list[str]:
    """Expand the template with the Cartesian product of group values
    (replaceTemplateGroups :148-202), each rendered by Java toString
    conventions (:func:`.terms.lex_value_to_string`: ``true``, not
    Python's ``True``).

    Mirrors the reference edge cases: no replacements, or more groups than
    replacement lists => [template] unchanged.
    """
    if not replacements:
        return [template]
    masked, _paths = _mask_paths(template)
    group_spans = list(_GROUP_RE.finditer(masked))
    if len(group_spans) > len(replacements):
        return [template]

    results: list[str] = []
    for combo in cartesian_product(replacements):
        buf: list[str] = []
        prev_end = 0
        for gi, m in enumerate(group_spans):
            buf.append(masked[prev_end : m.start()])
            buf.append(lex_value_to_string(combo[gi]))
            prev_end = m.end()
        # The reference appends the tail only when appendIdx < len-1 — a
        # subtle off-by-one that drops a single trailing char after the last
        # group. Faithful templates never end one char after a group in the
        # test suites; we append the full tail (the intended behavior).
        buf.append(masked[prev_end:])
        results.append("".join(buf))
    return results


def template_parts(template: str) -> list[object]:
    """Structural split of a template into literal text (str) and group
    indexes (int), for native Column-expression compilation: e.g.
    'http://ex/{a}-{b}' -> ['http://ex/', 0, '-', 1]."""
    masked, _paths = _mask_paths(template)
    parts: list[object] = []
    prev_end = 0
    for gi, m in enumerate(_GROUP_RE.finditer(masked)):
        if m.start() > prev_end:
            parts.append(masked[prev_end : m.start()])
        parts.append(gi)
        prev_end = m.end()
    if prev_end < len(masked):
        parts.append(masked[prev_end:])
    return parts


def get_template_matching(template: str, iri: str) -> dict[str, str]:
    """Inverse template match (getTemplateMatching :36-69): recover group
    values from an IRI by turning each group into a lazy regex group
    between the template's literal parts, matched against the whole IRI
    (the literal parts are regex-escaped, so a ``?`` or ``.`` in the
    template is text, not a pattern).

    Divergence from the reference: groups match ``(.*?)`` not ``(.+?)``
    — the forward renderer emits a term when a reference evaluates to
    the EMPTY STRING (only None drops the term), so the inverse match
    must accept empty group values or the rewriting binder would prune
    branches the materializer provably emits (found by the doc-source
    DESCRIBE differential: ``tag/{$.tag}`` with ``tag: ""``)."""
    tpl = template[1:] if template.startswith("<") else template
    tpl = tpl[:-1] if tpl.endswith(">") else tpl
    uri = iri[1:] if iri.startswith("<") else iri
    uri = uri[:-1] if uri.endswith(">") else uri
    groups = get_template_groups(tpl)
    pattern = "".join(
        "(.*?)" if isinstance(p, int) else re.escape(p) for p in template_parts(tpl)
    )
    m = re.fullmatch(pattern, uri, re.DOTALL)
    if not m:
        return {}
    return {g: m.group(i + 1) for i, g in enumerate(groups)}


def compatible_template_strings(tpl1: str, tpl2: str) -> bool:
    """True when fixed parts are equal and groups are at the same places
    (compatibleTemplateStrings :260-281)."""
    masked1, _ = _mask_paths(tpl1)
    masked2, _ = _mask_paths(tpl2)
    return _GROUP_RE.sub("{}", masked1) == _GROUP_RE.sub("{}", masked2)
