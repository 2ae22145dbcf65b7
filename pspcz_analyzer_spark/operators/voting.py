"""The reference's voting-analytics semantics as generic Spark transforms.

Inputs are "votes-shaped" DataFrames:
    mp_votes:   (id_poslanec, id_hlasovani, vysledek)     one MP x vote
    void_votes: (id_hlasovani)                            votes to exclude
    mp_info:    (id_poslanec, [id_osoba,] jmeno, prijmeni, party)
    votes:      (id_hlasovani, datum, nazev_dlouhy, schuze, bod, ...)

Vote codes (reference /root/reference/pspcz_analyzer/models/enums.py:6-17):
    A=YES  B=NO  C=ABSTAINED  F=DID_NOT_VOTE  @=ABSENT  M=EXCUSED
    W=BEFORE_OATH  K=ABSTAIN_ALT

Semantics reproduced exactly (they gate oracle hash-equality):
* every analysis first anti-joins void_votes
  (/root/reference/pspcz_analyzer/services/loyalty_service.py:22-23, SURVEY P4);
* party majority = per (id_hlasovani, party) YES-vs-NO counts; ties -> null
  direction -> row dropped (loyalty_service.py:37-52, SURVEY A1);
* rebellion = active vote != party majority; pct = rebellions/active*100
  (loyalty_service.py:62-114);
* attendance pct = active / (total - excused) * 100 with active={A,B,C}
  (attendance_service.py:31-47, SURVEY A2/A3).

All functions return lazy DataFrames; at scale the only shuffles are the
groupBys on (id_hlasovani, party) and (id_poslanec) — mp_info is broadcast.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

YES, NO, ABSTAINED = "A", "B", "C"
DID_NOT_VOTE, ABSENT, EXCUSED = "F", "@", "M"
ACTIVE_SET = (YES, NO, ABSTAINED)


def exclude_void(mp_votes: DataFrame, void_votes: DataFrame) -> DataFrame:
    """Anti-join the void-vote ids — applied before every analysis."""
    return mp_votes.join(
        F.broadcast(void_votes.select("id_hlasovani")), "id_hlasovani", "left_anti"
    )


def _cnt(cond: Column) -> Column:
    return F.sum(cond.cast("long"))


def party_majority(active_votes: DataFrame) -> DataFrame:
    """Per (id_hlasovani, party): majority direction; ties dropped.

    ``active_votes`` must already carry a ``party`` column and contain only
    YES/NO rows.
    """
    return (
        active_votes.groupBy("id_hlasovani", "party")
        .agg(
            _cnt(F.col("vysledek") == YES).alias("yes_count"),
            _cnt(F.col("vysledek") == NO).alias("no_count"),
        )
        .withColumn(
            "party_direction",
            F.when(F.col("yes_count") > F.col("no_count"), F.lit(YES))
            .when(F.col("no_count") > F.col("yes_count"), F.lit(NO))
            .otherwise(F.lit(None)),
        )
        .filter(F.col("party_direction").isNotNull())
    )


def active_with_direction(
    mp_votes: DataFrame, void_votes: DataFrame, mp_info: DataFrame
) -> DataFrame:
    """Shared prefix of loyalty/coalition: void filter -> active filter ->
    mp_info join -> majority join -> rebellion flag."""
    clean = exclude_void(mp_votes, void_votes)
    active = clean.filter(F.col("vysledek").isin(YES, NO))
    active = active.join(
        F.broadcast(mp_info.select("id_poslanec", "party")), "id_poslanec", "inner"
    )
    majority = party_majority(active)
    return active.join(
        majority.select("id_hlasovani", "party", "party_direction"),
        ["id_hlasovani", "party"],
        "inner",
    ).withColumn("is_rebellion", F.col("vysledek") != F.col("party_direction"))


def loyalty_stats(
    mp_votes: DataFrame, void_votes: DataFrame, mp_info: DataFrame
) -> DataFrame:
    """Per-MP rebellion counts and pct joined with mp_info, unordered: the
    parameter-free part of :func:`loyalty`, which a server can build once
    and rank per request with :func:`rank_loyalty`."""
    flagged = active_with_direction(mp_votes, void_votes, mp_info)
    per_mp = flagged.groupBy("id_poslanec").agg(
        _cnt(F.col("is_rebellion")).alias("rebellions"),
        F.count(F.lit(1)).alias("active_votes"),
    )
    per_mp = per_mp.withColumn(
        "rebellion_pct",
        F.round(F.col("rebellions") / F.col("active_votes") * 100, 6),
    )
    return per_mp.join(F.broadcast(mp_info), "id_poslanec", "left")


def rank_loyalty(
    stats: DataFrame, top: int | None = None, party_filter: str | None = None
) -> DataFrame:
    """Party filter, rebellion-rate order and top-n over :func:`loyalty_stats`."""
    out = stats
    if party_filter:
        out = out.filter(F.upper(F.col("party")) == party_filter.upper())
    out = out.orderBy(
        F.desc("rebellion_pct"), F.asc("id_poslanec")  # id tiebreak => deterministic
    )
    if top:
        out = out.limit(top)
    return out.select(
        "id_poslanec", "jmeno", "prijmeni", "party",
        "active_votes", "rebellions", "rebellion_pct",
    )


def loyalty(
    mp_votes: DataFrame,
    void_votes: DataFrame,
    mp_info: DataFrame,
    top: int | None = None,
    party_filter: str | None = None,
) -> DataFrame:
    """Rebellion rate per MP, descending (loyalty_service.py:9-141)."""
    return rank_loyalty(
        loyalty_stats(mp_votes, void_votes, mp_info), top, party_filter
    )


def attendance_stats(
    mp_votes: DataFrame, void_votes: DataFrame, mp_info: DataFrame
) -> DataFrame:
    """Per-MP attendance category counts and pct joined with mp_info,
    unordered: the parameter-free part of :func:`attendance`, ranked per
    request by :func:`rank_attendance`."""
    clean = exclude_void(mp_votes, void_votes)
    v = F.col("vysledek")
    per_mp = clean.groupBy("id_poslanec").agg(
        _cnt(v.isin(*ACTIVE_SET)).alias("active"),
        _cnt(v == YES).alias("yes_votes"),
        _cnt(v == NO).alias("no_votes"),
        _cnt(v == ABSTAINED).alias("abstained"),
        _cnt(v == DID_NOT_VOTE).alias("passive"),
        _cnt(v == ABSENT).alias("absent"),
        _cnt(v == EXCUSED).alias("excused"),
        F.count(F.lit(1)).alias("total"),
    )
    per_mp = per_mp.withColumn(
        "attendance_pct",
        F.round(
            F.col("active") / (F.col("total") - F.col("excused")).cast("double") * 100,
            6,
        ),
    )
    return per_mp.join(F.broadcast(mp_info), "id_poslanec", "left")


# sort name -> (column, descending); unknown names sort like "worst".
ATTENDANCE_SORTS: dict[str, tuple[str, bool]] = {
    "worst": ("attendance_pct", False),
    "best": ("attendance_pct", True),
    "most_active": ("active", True),
    "least_active": ("active", False),
    "most_abstained": ("abstained", True),
    "most_excused": ("excused", True),
    "most_passive": ("passive", True),
    "most_absent": ("absent", True),
    "most_yes": ("yes_votes", True),
    "most_no": ("no_votes", True),
}


def rank_attendance(
    stats: DataFrame,
    top: int | None = None,
    sort: str = "worst",
    party_filter: str | None = None,
) -> DataFrame:
    """Party filter, ``sort`` order and top-n over :func:`attendance_stats`."""
    out = stats
    if party_filter:
        out = out.filter(F.upper(F.col("party")) == party_filter.upper())
    col, desc = ATTENDANCE_SORTS.get(sort, ATTENDANCE_SORTS["worst"])
    order = F.desc(col) if desc else F.asc(col)
    out = out.orderBy(order, F.asc("id_poslanec"))
    if top:
        out = out.limit(top)
    return out.select(
        "id_poslanec", "jmeno", "prijmeni", "party",
        "active", "yes_votes", "no_votes", "abstained",
        "passive", "absent", "excused", "attendance_pct",
    )


def attendance(
    mp_votes: DataFrame,
    void_votes: DataFrame,
    mp_info: DataFrame,
    top: int | None = None,
    sort: str = "worst",
    party_filter: str | None = None,
) -> DataFrame:
    """Attendance categories + pct per MP (attendance_service.py:9-82)."""
    return rank_attendance(
        attendance_stats(mp_votes, void_votes, mp_info), top, sort, party_filter
    )


def party_breakdown(mp_votes_one: DataFrame, mp_info: DataFrame) -> DataFrame:
    """Per-party tallies for a single vote (votes_service.py:265-280, A4)."""
    v = F.col("vysledek")
    return (
        mp_votes_one.join(F.broadcast(mp_info.select("id_poslanec", "party")), "id_poslanec")
        .groupBy("party")
        .agg(
            _cnt(v == YES).alias("yes"),
            _cnt(v == NO).alias("no"),
            _cnt(v == ABSTAINED).alias("abstained"),
            _cnt(v == DID_NOT_VOTE).alias("did_not_vote"),
            _cnt(v == ABSENT).alias("absent"),
            _cnt(v == EXCUSED).alias("excused"),
            F.count(F.lit(1)).alias("total"),
        )
        .orderBy("party")
    )


def coalition_cohesion(
    mp_votes: DataFrame,
    void_votes: DataFrame,
    mp_info: DataFrame,
    amendment_vote_ids: DataFrame | None = None,
) -> DataFrame:
    """Per-party cohesion: mean with-majority rate, overall and amendment-only
    (coalition_service.py:263-281, SURVEY A5 conditional mean)."""
    flagged = active_with_direction(mp_votes, void_votes, mp_info)
    with_maj = (~F.col("is_rebellion")).cast("double")
    if amendment_vote_ids is not None:
        flagged = flagged.join(
            F.broadcast(amendment_vote_ids.select("id_hlasovani").withColumn("is_amendment", F.lit(True))),
            "id_hlasovani",
            "left",
        ).withColumn("is_amendment", F.coalesce(F.col("is_amendment"), F.lit(False)))
    else:
        flagged = flagged.withColumn("is_amendment", F.lit(False))
    return (
        flagged.groupBy("party")
        .agg(
            F.round(F.avg(with_maj), 6).alias("cohesion"),
            F.round(F.avg(F.when(F.col("is_amendment"), with_maj)), 6).alias(
                "amendment_cohesion"
            ),
            F.count(F.lit(1)).alias("active_votes"),
        )
        .orderBy("party")
    )


def party_pair_agreement(
    mp_votes: DataFrame,
    void_votes: DataFrame,
    mp_info: DataFrame,
) -> DataFrame:
    """Unordered party-pair agreement on majority direction per vote
    (coalition_service.py:70-87, SURVEY J7)."""
    from pspcz_analyzer_spark.operators.pairs import pair_agreement, unordered_pairs

    majority = party_majority(
        exclude_void(mp_votes, void_votes)
        .filter(F.col("vysledek").isin(YES, NO))
        .join(F.broadcast(mp_info.select("id_poslanec", "party")), "id_poslanec")
    )
    pairs = unordered_pairs(
        majority, "id_hlasovani", "party", value_cols=["party_direction"]
    )
    return pair_agreement(pairs, "party", "party_direction").orderBy(
        F.desc("agreement_rate"), "party", "party_b"
    )
