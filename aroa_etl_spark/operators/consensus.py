"""Consensus deduplication: N crowd transcriptions of one document → one
consensus row (SURVEY §2 A1/U1-U4; reference enc/matching.py +
enc/deduplication.py).

Spark architecture: the user-composable ``ColMatcher`` pipeline compiles
to a Python kernel run over each document's collected rows, many
documents per Arrow batch — ONE pass computes every column's
consensus, the ambiguity bookkeeping and the QA propagation for a
document (the reference runs one groupby-apply per column). Groups are
tiny (N transcriptions ≤ ~20), so the kernel is group-local by
construction; the only shuffle in the whole operator is the hash
partition on the document id, which is exactly the partitioning a
1000-executor cluster wants.
"""

from __future__ import annotations

import re
import unicodedata
import uuid
from collections import Counter
from typing import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from aroa_etl_spark.functions.simkernels import jaro_similarity, ratio
from aroa_etl_spark.functions.vocab import NA_VALUES, QA_VALUES

# ---------------------------------------------------------------------------
# scalar helpers shared by the step kernels
# ---------------------------------------------------------------------------

_UMLAUT_RE = re.compile(r"[äöüß]")
_WORD_RE = re.compile(r"[\w\.]+")


def _is_empty_value(v) -> bool:
    return v is None or (isinstance(v, float) and np.isnan(v)) or str(v) in NA_VALUES


def _has_value(v) -> bool:
    if _is_empty_value(v):
        return False
    return str(v) not in QA_VALUES


def _to_ascii(name: str) -> str:
    """Accent-fold + hard-ASCII projection (enc/matching.py:20-25)."""
    from aroa_etl_spark.functions.translit import FOLD_1TO1, MULTI_CHAR_FOLDS

    out = []
    for ch in name:
        if ch in FOLD_1TO1:
            out.append(FOLD_1TO1[ch])
        elif ch in MULTI_CHAR_FOLDS:
            out.append(MULTI_CHAR_FOLDS[ch])
        else:
            out.append(ch)
    folded = "".join(out)
    return (
        unicodedata.normalize("NFKD", folded).encode("ascii", "ignore").decode("utf-8")
    )


def _to_ascii_with_umlaut(name: str) -> str:
    return "".join(
        ch if _UMLAUT_RE.match(ch) else _to_ascii(ch) for ch in name
    )


def _substitute_umlaute(name: str) -> str:
    for a, b in (("ä", "ae"), ("ö", "oe"), ("ü", "ue"), ("ß", "ss")):
        name = name.replace(a, b)
    return name


def _sub_all(name: str, substitutions: dict[str, str]) -> str:
    for a, b in substitutions.items():
        name = name.replace(a, b)
    return name


KNOWN_ABBREVIATIONS = {
    r"(?P<str>[sS]tr)a?\.": r"\g<str>aße",
    r"(?P<str>[sS]tr)a?$": r"\g<str>aße",
    r"\sb\.": r" bei",
    r"\s[kK]rs?\.?\s?": " Kreis ",
    r"(?P<sep1>[^\w])[Bb]ln\.?(?P<sep2>[\s\-=])": r"\g<sep1>Berlin\g<sep2>",
    r"^[Bb]ln\.?(?P<sep>[\s\-=])": r"Berlin\g<sep>",
    r"(?P<sep1>[^\w])[lL][kK]r?[\.\s]": " Landkreis ",
    r"(?P<number>\d+)(?P<letter>[a-zA-Z])": r"\g<number> \g<letter>",
}


# ---------------------------------------------------------------------------
# ColMatcher: the user-composable consensus strategy (U1)
# ---------------------------------------------------------------------------

class ColMatcher:
    """Ordered pipeline of group-local steps ending in the voting reduce.

    Each step maps the document's value list to a new list, or to a
    scalar (short-circuit: that scalar IS the consensus). API kept from
    the reference (enc/matching.py:16-351); executed inside
    applyInPandas, never on the driver.
    """

    def __init__(self) -> None:
        self.steps: list[Callable] = []

    # --- per-value normalizations -------------------------------------
    def on_ascii(self) -> "ColMatcher":
        self.steps.append(lambda vals: [_to_ascii(v) for v in vals])
        return self

    def on_ascii_with_umlaut(self) -> "ColMatcher":
        self.steps.append(lambda vals: [_to_ascii_with_umlaut(v) for v in vals])
        return self

    def on_ascii_with_umlaut_normalized(self) -> "ColMatcher":
        self.steps.append(
            lambda vals: [_to_ascii_with_umlaut(_substitute_umlaute(v)) for v in vals]
        )
        return self

    def with_known_abbreviations_completed(self) -> "ColMatcher":
        def step(vals):
            out = []
            for v in vals:
                for pat, repl in KNOWN_ABBREVIATIONS.items():
                    v = re.sub(pat, repl, v)
                out.append(v)
            return out

        self.steps.append(step)
        return self

    def with_custom_substitution(self, pattern: str, repl: str) -> "ColMatcher":
        self.steps.append(lambda vals: [re.sub(pattern, repl, v) for v in vals])
        return self

    def with_custom_replace(self, pattern: str, repl: str) -> "ColMatcher":
        self.steps.append(
            lambda vals: [repl if re.search(pattern, v) else v for v in vals]
        )
        return self

    # --- group-level mutual repairs -----------------------------------
    def with_automatic_abbreviation_completion(self) -> "ColMatcher":
        """If one entry spells out another entry's abbreviation ('Str.' vs
        'Strasse' at the same word position), apply the completion to all
        (enc/matching.py:206-227)."""

        def step(vals):
            abbrevs = [
                (pos, w)
                for v in vals
                for pos, w in enumerate(_WORD_RE.findall(v))
                if re.match(r"\w{3,}\.", w)
            ]
            completions: dict[str, str] = {}
            for pos, abbrev in abbrevs:
                for v in vals:
                    words = _WORD_RE.findall(v)
                    if len(words) <= pos:
                        continue
                    cand = words[pos]
                    if (
                        "." not in cand
                        and len(cand) > len(abbrev) + 1
                        and cand[0] == abbrev[0]
                    ):
                        completions[abbrev] = cand
            return [_sub_all(v, completions) for v in vals]

        self.steps.append(step)
        return self

    def with_automatic_umlaut_substitution(self) -> "ColMatcher":
        """If one entry wrote an umlaut where another wrote its ASCII
        rendering, prefer the umlaut form (enc/matching.py:236-258)."""

        def step(vals):
            umlaut_words = [
                (pos, w)
                for v in vals
                for pos, w in enumerate(_WORD_RE.findall(v))
                if re.search(r"[üöäß]", w)
            ]
            subs: dict[str, str] = {}
            for v in vals:
                words = _WORD_RE.findall(v)
                for pos, uw in umlaut_words:
                    if len(words) <= pos:
                        continue
                    cand = words[pos]
                    if len(cand) >= len(uw) and (
                        _to_ascii_with_umlaut(uw.lower()) == _to_ascii_with_umlaut(cand.lower())
                        or _to_ascii(uw.lower()) == _to_ascii(cand.lower())
                        or _substitute_umlaute(uw.lower()) == _substitute_umlaute(cand.lower())
                    ):
                        subs[cand] = uw
            return [_sub_all(v, subs) for v in vals]

        self.steps.append(step)
        return self

    def with_automatic_capitalization_substitution(self) -> "ColMatcher":
        def step(vals):
            upper_words = [
                (pos, w)
                for v in vals
                for pos, w in enumerate(_WORD_RE.findall(v))
                if re.match(r"[A-Z]\w*", w)
            ]
            subs: dict[str, str] = {}
            for v in vals:
                words = _WORD_RE.findall(v)
                for pos, uw in upper_words:
                    if len(words) <= pos:
                        continue
                    cand = words[pos]
                    if cand != uw and cand.lower() == uw.lower():
                        subs[cand] = uw
            return [_sub_all(v, subs) for v in vals]

        self.steps.append(step)
        return self

    def with_syllable_matching(self) -> "ColMatcher":
        """Windowed 3-gram voting that unifies near-identical words at the
        same position ('Frankfurt'/'Frankfurter'/'Frandfurt' → the best-
        supported spelling), gated on pairwise Jaro ≥ 0.8
        (enc/matching.py:96-158)."""

        def step(vals):
            from itertools import zip_longest

            vals = list(vals)
            word_cols = zip_longest(*[_WORD_RE.findall(v) for v in vals])
            for word_col in word_cols:
                word_col = list(word_col)
                if len(word_col) < 3:
                    continue
                rotated = word_col[1:] + word_col[:1]
                if any(
                    w1 is not None and w2 is not None and jaro_similarity(w1, w2) < 0.8
                    for w1, w2 in zip(word_col, rotated)
                ):
                    continue
                window_len = 3
                scores = np.zeros(len(word_col))
                for idx, word in enumerate(word_col):
                    if word is None or len(word) < window_len:
                        continue
                    others = word_col[:idx] + word_col[idx + 1 :]
                    win_scores = np.zeros(len(word) + 1 - window_len)
                    for start in range(len(word) + 1 - window_len):
                        window = word[start : start + window_len]
                        for ow in others:
                            if ow is not None and window in ow and abs(ow.index(window) - start) < 3:
                                win_scores[start] += 1
                    scores[idx] += 0 if win_scores.min() == 0 else win_scores.mean()
                best = int(scores.argmax())
                if scores[best] != 0:
                    vals = [
                        v.replace(w, word_col[best]) if w is not None else v
                        for v, w in zip(vals, word_col)
                    ]
            return vals

        self.steps.append(step)
        return self

    def with_fuzzy_matching(self) -> "ColMatcher":
        """Medoid by mean InDel ratio over non-empty values; '-' when none
        (enc/matching.py:166-178)."""

        def step(vals):
            vals = [str(v) for v in vals if _has_value(v)]
            if not vals:
                return "-"
            means = [
                float(np.mean([ratio(v, o) for o in vals])) for v in vals
            ]
            return vals[int(np.argmax(means))]

        self.steps.append(step)
        return self

    # --- control steps ------------------------------------------------
    def break_if(self, condition: Callable, except_value) -> "ColMatcher":
        self.steps.append(
            lambda vals: except_value if condition(vals) else vals
        )
        return self

    def exclude_empty(self) -> "ColMatcher":
        def step(vals):
            non_empty = [
                v
                for v in vals
                if not _is_empty_value(v) and not re.match("[uU]nklar|[uU]nclear", str(v))
            ]
            if len(non_empty) < 2:
                return "-"
            return non_empty

        self.steps.append(step)
        return self

    # reference API spells it 'exlude_empty' — keep an alias for parity
    exlude_empty = exclude_empty

    # --- terminal vote -------------------------------------------------
    @staticmethod
    def _match_doc(vals):
        """Vote a winner iff every word of it is substring-supported by at
        least one other entry's word and ≥2 entries share its word count;
        else ambiguous (None). Exact port of the voting semantics
        (enc/matching.py:294-322 — SURVEY §7 hard part 7)."""
        match_strings = [
            re.findall(r"([a-zA-ZäöüßÄÜÖ]+\.?|\d+)", str(v)) for v in vals
        ]
        match_strings = [ws for ws in match_strings if ws]
        len_count = Counter(len(ws) for ws in match_strings)
        if not [c for c in len_count.values() if c > 1]:
            return None

        all_words = [w for ws in match_strings for w in ws]
        voting = []
        for pos_a, words_a in enumerate(match_strings):
            scores = np.zeros(len(words_a))
            for i, wa in enumerate(words_a):
                for wb in all_words:
                    if wb in wa:
                        scores[i] += 1
            voting.append((pos_a, scores.min()))

        eligible = sorted(
            [(pos, s) for pos, s in voting if len_count[len(match_strings[pos])] > 1],
            key=lambda t: t[1],
        )
        match_pos, match_count = eligible[-1]

        # map the position back to the original value list (empties were
        # dropped from match_strings, so recount)
        originals = [v for v in vals if re.findall(r"([a-zA-ZäöüßÄÜÖ]+\.?|\d+)", str(v))]
        match = originals[match_pos] if match_count > 1 else None
        return match if match not in ("", None) else None

    def __call__(self, vals):
        """Run the pipeline. A scalar at any point short-circuits."""
        current = list(vals)
        for step in [*self.steps, ColMatcher._match_doc]:
            if not isinstance(current, list):
                return current
            current = step(current)
        return current


# --- presets (enc/matching.py:353-414) --------------------------------------

def _default_text_steps(m: ColMatcher) -> ColMatcher:
    m.with_custom_substitution(r"\s+", r" ")
    m.with_custom_substitution(r"\s(?P<sym>[^a-zA-Z])\s", r"\g<sym>")
    m.with_automatic_umlaut_substitution()
    m.with_automatic_abbreviation_completion()
    m.on_ascii_with_umlaut()
    m.with_automatic_capitalization_substitution()
    return m


def default_col_matcher() -> ColMatcher:
    """Text columns (names, places)."""
    m = ColMatcher()
    m.exclude_empty()
    _default_text_steps(m)
    m.with_syllable_matching()
    return m


def default_person_col_matcher() -> ColMatcher:
    return default_col_matcher()


def default_strict_col_matcher() -> ColMatcher:
    """Verbatim matching (ids, numbers)."""
    m = ColMatcher()
    m.exclude_empty()
    return m


def _most_common(vals) -> str:
    return Counter(str(v) for v in vals).most_common(1)[0][0]


def default_date_col_matcher() -> ColMatcher:
    """Verbatim + dash break rules for date parts."""
    m = ColMatcher()
    m.break_if(
        lambda vals: 1 < len([v for v in vals if re.match(r"[\-\s]+$", str(v))]), "-"
    )
    m.break_if(lambda vals: bool(re.match(r"\-+", _most_common(vals))), "-")
    return m


def default_fuzzy_col_matcher() -> ColMatcher:
    m = ColMatcher()
    _default_text_steps(m)
    m.with_fuzzy_matching()
    return m


# ---------------------------------------------------------------------------
# EncMatcher: run all column matchers in one applyInPandas pass (U3)
# ---------------------------------------------------------------------------

def _success(value, n_entries: int, no_values_is_a_match: bool) -> bool:
    ok = _has_value(value) if value is not None else False
    ok = ok and value != "?"
    if no_values_is_a_match and n_entries == 0:
        ok = True
    return ok


def _grouped_rows(df: DataFrame, id_col: str, cols: list[str]) -> DataFrame:
    """Pack each group's rows into a single ``array<struct>`` cell.

    Batch layout for the consensus kernels: one output row per group
    means ``groupBy().applyInPandas`` pays a Python call and a pandas
    DataFrame construction PER GROUP — measured ~60% of the full
    consensus wall time at sf0.1 with a no-op kernel. Collecting each
    group's rows JVM-side (one shuffle with map-side partial aggregation,
    same as applyInPandas) and feeding ``mapInPandas`` or a scalar pandas
    UDF lets one Python call process thousands of groups per Arrow batch. ``collect_list``
    keeps null field values because the struct wrapper itself is
    non-null.
    """
    uniq = list(dict.fromkeys(cols))
    return df.groupBy(id_col).agg(
        F.collect_list(F.struct(*[F.col(c) for c in uniq])).alias("__rows")
    )


class EncMatcher:
    """Binds ColMatchers to columns and executes the grouped consensus.

    ``match()`` returns a DataFrame with one row per document: matched
    columns, ``is_ambiguous``, ``ambiguous_columns`` and per-column entry
    counts (``n_entries_*``, used by ``stats()``)."""

    def __init__(self, df: DataFrame, id_col: str):
        self.df = df
        self.id_col = id_col
        self.col_matcher: dict[str, ColMatcher] = {}
        self._result: DataFrame | None = None

    def with_col_matcher(self, col: str, matcher: ColMatcher | None = None) -> "EncMatcher":
        self.col_matcher[col] = matcher or default_col_matcher()
        self._result = None
        return self

    def combine_columns(
        self, columns: list[str], new_col_name: str, sep: str = ", ", join_filter=None
    ) -> "EncMatcher":
        """Pre-join several columns into one matching field (U3
        combine_columns). join_filter is a scalar predicate; default keeps
        values containing a letter.

        The default predicate runs as a native higher-order expression
        (array → filter(rlike) → array_join), fully JVM-side; a
        user-supplied ``join_filter`` callable runs inside an
        Arrow-batched pandas UDF (ArrowEvalPython — never row-at-a-time
        BatchEvalPython), so even custom predicates keep columnar
        transfer. Values are stringified with Spark cast semantics on
        the native path (e.g. booleans render 'true', not Python's
        'True'); the custom path sees Python/numpy scalars (None for
        SQL NULL) and stringifies with ``str``."""
        if join_filter is None:
            arr = F.array(*[F.col(c).cast("string") for c in columns])
            self.df = self.df.withColumn(
                new_col_name,
                F.array_join(F.filter(arr, lambda v: v.rlike("[a-zA-Z]")), sep),
            )
            self._result = None
            return self

        @F.pandas_udf(T.StringType())
        def _join(*series: pd.Series) -> pd.Series:
            # astype(object) first: on float/int-with-null dtypes,
            # .where(..., None) would coerce None straight back to NaN
            # and the filter would see NaN instead of the documented None
            cols_ = [s.astype(object).where(pd.notna(s), None) for s in series]
            return pd.Series(
                [
                    sep.join(
                        str(s.iloc[i]) for s in cols_ if join_filter(s.iloc[i])
                    )
                    for i in range(len(cols_[0]))
                ]
            )

        self.df = self.df.withColumn(new_col_name, _join(*[F.col(c) for c in columns]))
        self._result = None
        return self

    def match(self, no_values_is_a_match: bool = True) -> DataFrame:
        if self._result is not None:
            return self._result

        id_col = self.id_col
        matchers = dict(self.col_matcher)
        cols = list(matchers.keys())

        schema = T.StructType(
            [T.StructField(id_col, T.StringType())]
            + [T.StructField(c, T.StringType()) for c in cols]
            + [
                T.StructField("is_ambiguous", T.BooleanType()),
                T.StructField("ambiguous_columns", T.StringType()),
            ]
            + [T.StructField(f"n_entries_{c}", T.IntegerType()) for c in cols]
        )

        def kernel(batches):
            for pdf in batches:
                out = []
                for gid, rows in zip(pdf[id_col], pdf["__rows"]):
                    row: dict = {id_col: gid}
                    ambiguous = []
                    for c in cols:
                        vals = [r[c] for r in rows]
                        n_entries = sum(1 for v in vals if not _is_empty_value(v))
                        matched = matchers[c](vals)
                        if isinstance(matched, list):  # pipeline ended on a list
                            matched = None
                        row[c] = matched
                        row[f"n_entries_{c}"] = n_entries
                        if not _success(matched, n_entries, no_values_is_a_match):
                            ambiguous.append(c)
                    for c in ambiguous:
                        row[c] = "?"
                    row["is_ambiguous"] = bool(ambiguous)
                    row["ambiguous_columns"] = ", ".join(ambiguous)
                    out.append(row)
                if out:
                    yield pd.DataFrame(out)

        self._result = _grouped_rows(self.df, id_col, cols).mapInPandas(kernel, schema)
        return self._result

    def stats(self) -> DataFrame:
        """Per-column matching statistics (A8) in one aggregation over the
        match result — no per-document Python probes."""
        m = self.match()
        aggs = []
        for c in self.col_matcher:
            has = F.col(f"n_entries_{c}") > 0
            matched_val = (
                ~F.coalesce(F.trim(F.col(c)).isin(NA_VALUES + ["?"]), F.lit(True))
            ) & F.col(c).isNotNull()
            aggs += [
                F.sum(has.cast("int")).alias(f"{c}__with_entries"),
                F.sum((~has).cast("int")).alias(f"{c}__without_entries"),
                F.sum((matched_val & has).cast("int")).alias(f"{c}__matched"),
                F.sum(
                    ((~matched_val) & (F.col(f"n_entries_{c}") == 1)).cast("int")
                ).alias(f"{c}__too_few"),
                F.sum(
                    ((~matched_val) & (F.col(f"n_entries_{c}") > 1)).cast("int")
                ).alias(f"{c}__ambiguous"),
            ]
        return m.agg(*aggs)


# ---------------------------------------------------------------------------
# ENCDeduplicater: the end-to-end dedup job (U4)
# ---------------------------------------------------------------------------

class ENCDeduplicater:
    """Reduce multiple transcriptions per document to one consensus row and
    union it back with the (now 'deleted') raw rows
    (enc/deduplication.py:8-296).

    Differences from the reference, by design:
    - object_id is DETERMINISTIC by default (uuid5 of the document id):
      Spark may recompute partitions, so nondeterministic uuid4 can
      double-assign (SURVEY §7 risk 3). Pass deterministic_ids=False for
      reference-faithful random uuids.
    - QA columns stay BooleanType end-to-end (risk 8).
    """

    def __init__(self, df: DataFrame, id_col: str, metadata_columns: list[str] | None = None):
        self.df = df
        self.id_col = id_col
        self.metadata_columns = metadata_columns or []
        self.person_cols: list[str] = []
        self.date_cols: list[str] = []
        self.other_cols: list[str] = []
        self.other_strict_cols: list[str] = []
        self.fuzzy_cols: list[str] = []
        self.qa_map: dict[str, str] = {}
        self.custom_matchers: dict[str, ColMatcher] = {}

    # --- column registration (U4 API) ----------------------------------
    def on_person_cols(self, cols, qa_map=None):
        self.person_cols = list(cols)
        if qa_map:
            self.qa_map.update(qa_map)
        return self

    def on_date_cols(self, cols, qa_map=None):
        self.date_cols = list(cols)
        if qa_map:
            self.qa_map.update(qa_map)
        return self

    def on_other_cols(self, cols, qa_map=None):
        self.other_cols = list(cols)
        if qa_map:
            self.qa_map.update(qa_map)
        return self

    def on_other_strict_cols(self, cols, qa_map=None):
        self.other_strict_cols = list(cols)
        if qa_map:
            self.qa_map.update(qa_map)
        return self

    def on_fuzzy_cols(self, cols, qa_map=None):
        self.fuzzy_cols = list(cols)
        if qa_map:
            self.qa_map.update(qa_map)
        return self

    def set_col_matcher(self, col: str, matcher: ColMatcher):
        self.custom_matchers[col] = matcher
        return self

    def define_qa_pairs(self, qa_map: dict[str, str]):
        self.qa_map.update(qa_map)
        return self

    # --- qa-column inference (enc/deduplication.py:111-138) -------------
    def _infer_qa_map(self) -> list[str]:
        qa_cols = [c for c in self.df.columns if re.search(r"_qa$", c)]
        missing = []
        for col in self._match_cols():
            if col in self.qa_map:
                continue
            probe = col
            while f"{probe}_qa" not in qa_cols and probe != "":
                if not re.search(r"_[\da-zA-Z]+$", probe):
                    probe = ""
                    break
                probe = re.sub(r"_[\da-zA-Z]+$", "", probe)
            if f"{probe}_qa" in qa_cols and probe:
                self.qa_map[col] = f"{probe}_qa"
            else:
                missing.append(col)
        return missing

    def _match_cols(self) -> list[str]:
        return (
            self.person_cols
            + self.date_cols
            + self.other_cols
            + self.other_strict_cols
            + self.fuzzy_cols
        )

    def _matcher_for(self, col: str) -> ColMatcher:
        if col in self.custom_matchers:
            return self.custom_matchers[col]
        if col in self.person_cols:
            return default_person_col_matcher()
        if col in self.date_cols:
            return default_date_col_matcher()
        if col in self.other_strict_cols:
            return default_strict_col_matcher()
        if col in self.fuzzy_cols:
            return default_fuzzy_col_matcher()
        return default_col_matcher()

    # --- the job --------------------------------------------------------
    def run(self, deterministic_ids: bool = True) -> DataFrame:
        missing = self._infer_qa_map()
        if missing:
            raise ValueError(f"No QA column found for: {missing}")

        id_col = self.id_col
        match_cols = self._match_cols()
        qa_map = dict(self.qa_map)
        qa_cols = sorted(set(qa_map.values()))
        metadata = list(self.metadata_columns)
        matchers = {c: self._matcher_for(c) for c in match_cols}

        # ---- preprocess (enc/deduplication.py:67-84), one projection ----
        dtypes = dict(self.df.dtypes)
        cur = {c: F.col(c) for c in self.df.columns}
        for c in qa_cols:
            if dtypes.get(c) == "boolean":
                cur[c] = F.coalesce(F.col(c), F.lit(False))
            else:
                # stringly-typed inputs round-trip 'True'/'False' — coerce
                # once, stay BooleanType from here on
                cur[c] = F.coalesce(F.lower(F.col(c).cast("string")) == "true", F.lit(False))
        qa_flags = [cur[c] for c in qa_cols] or [F.lit(False)]
        cur["has_qa"] = F.greatest(*qa_flags) if len(qa_flags) > 1 else qa_flags[0]
        # NULL → '-' fill; unknown date parts get their 0-sentinels
        year_cols = [c for c in self.date_cols if re.search(r"[yY][eE][aA][rR]", c)]
        for c in match_cols:
            v = F.coalesce(cur[c].cast("string"), F.lit("-"))
            if c in year_cols:
                v = F.when(v == "-", "0000").otherwise(v)
            elif c in self.date_cols:
                v = F.when(v == "-", "00").otherwise(v)
            cur[c] = v
        data = self.df.select(*[e.alias(c) for c, e in cur.items()])

        # ---- consensus kernel: match + QA propagation in one pass ----
        doc_fields = list(dict.fromkeys(
            [(c, T.StringType()) for c in match_cols]
            + [("is_ambiguous", T.BooleanType()), ("ambiguous_columns", T.StringType())]
            + [(c, T.BooleanType()) for c in qa_cols]
            + [("has_qa", T.BooleanType()), ("object_id", T.StringType())]
            + [(c, T.StringType()) for c in metadata]
        ))
        doc_schema = T.StructType([T.StructField(c, t) for c, t in doc_fields])
        doc_names = doc_schema.fieldNames()
        has_person = bool(self.person_cols)

        @F.pandas_udf(doc_schema)
        def kernel(doc_ids: pd.Series, docs: pd.Series) -> pd.DataFrame:
            out = []
            for doc_id, rows in zip(doc_ids, docs):
                row: dict = {}
                ambiguous = []
                matched_vals: dict[str, str | None] = {}
                for c in match_cols:
                    vals = [r[c] for r in rows]
                    n_entries = sum(1 for v in vals if not _is_empty_value(v))
                    m = matchers[c](vals)
                    if isinstance(m, list):
                        m = None
                    matched_vals[c] = m
                    if not _success(m, n_entries, True):
                        ambiguous.append(c)
                for c in match_cols:
                    row[c] = "?" if c in ambiguous else (matched_vals[c] or "")
                row["is_ambiguous"] = bool(ambiguous)
                row["ambiguous_columns"] = ", ".join(ambiguous)

                # QA propagation: flag iff some raw row equals the
                # consensus value AND that raw row carried the QA flag
                for qa in qa_cols:
                    row[qa] = False
                for c, qa in qa_map.items():
                    mv = matched_vals[c]
                    if mv is None:
                        continue
                    row[qa] = row[qa] or any(r[c] == mv and bool(r[qa]) for r in rows)
                row["has_qa"] = any(row[q] for q in qa_cols)

                if has_person:
                    if deterministic_ids:
                        row["object_id"] = str(
                            uuid.uuid5(uuid.NAMESPACE_URL, f"aroa-etl-spark:{doc_id}")
                        )
                    else:
                        row["object_id"] = str(uuid.uuid4())
                else:
                    row["object_id"] = None
                for mcol in metadata:
                    row[mcol] = str(rows[0][mcol])
                out.append(row)
            return pd.DataFrame(out, columns=doc_names)

        # Each document's raw rows travel with it through the grouping and
        # stay in the JVM: the kernel sees only the columns it votes on and
        # returns one doc-level struct, from which ONE generator emits the
        # consensus row and the raw rows stamped with the doc's ambiguity
        # info and object_id. The kernel output has a single consumer, so
        # it runs once, and raw values never round-trip through pandas
        # (which widens a nullable long inside a struct to float64).
        kernel_cols = list(dict.fromkeys(match_cols + qa_cols + metadata))
        docs = _grouped_rows(data, id_col, data.columns).select(
            id_col,
            "__rows",
            kernel(
                F.col(id_col),
                F.transform("__rows", lambda r: F.struct(*[r[c].alias(c) for c in kernel_cols])),
            ).alias("__doc"),
        )

        doc = F.col("__doc")
        doc_level = ("is_ambiguous", "ambiguous_columns", "object_id")
        out_cols = list(data.columns) + [
            c for c in ("deleted", *doc_level) if c not in data.columns
        ]
        data_type = {f.name: f.dataType for f in data.schema.fields}

        def consensus_value(c: str):
            if c == id_col:
                return F.col(id_col)
            if c == "deleted":
                return F.lit(False)
            if c in doc_names:
                return doc[c].cast(data_type.get(c, doc_schema[c].dataType))
            return F.lit(None).cast(data_type[c])

        def raw_value(r, c: str):
            if c == "deleted":
                return F.lit(True)
            if c in doc_level:
                # like a left join on the document id: no info for NULL ids
                return F.when(F.col(id_col).isNotNull(), doc[c])
            return r[c]

        consensus = F.struct(*[consensus_value(c).alias(c) for c in out_cols])
        raws = F.transform("__rows", lambda r: F.struct(*[raw_value(r, c).alias(c) for c in out_cols]))
        out = docs.select(F.inline(F.concat(F.array(consensus), raws)))
        # fill string nulls with '' (reference fillna(''))
        string_cols = [f.name for f in out.schema.fields if isinstance(f.dataType, T.StringType)]
        return out.fillna("", subset=string_cols)
