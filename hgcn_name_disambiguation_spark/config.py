"""Pipeline configuration.

Defaults mirror the reference's hardcoded constants so semantics are
reproducible:
- relation fusion weights (5*coauthor + 1*title + 4*venue)/10
  (reference ``GCN.py:124,130``),
- match threshold tau = 0.9 (``name_disambiguation.py:86,599``),
- co-title edge requires >= 2 shared stemmed tokens
  (``name_disambiguation.py:971-973``),
- stopword list (``name_disambiguation.py:772-773``).
"""

from __future__ import annotations

from dataclasses import dataclass, field

# Reference stoplist — the EXACT raw 16-word list from
# name_disambiguation.py:772 (including its 'algrithom' typo). The
# reference stems this list with the same Porter stemmer it applies to
# tokens, then drops a token iff its STEM is in the stemmed list
# (name_disambiguation.py:773,845-848); functions.text.STOP_STEMS is
# that stemmed form.
RAW_STOPWORDS: tuple[str, ...] = (
    "at", "based", "in", "of", "for", "on", "and", "to", "an", "using",
    "with", "the", "method", "algrithom", "by", "model",
)

# Punctuation class stripped from titles (name_disambiguation.py:771).
TITLE_PUNCT_RE = r"""[!"#$%&'()*+,\-./:;<=>?@\[\]^_`{|}~—～]+"""

# --- name-ambiguity prior (engine extension; public knowledge) ---
# Romanized CJK surnames whose single-token given names are so common
# that the first+last blocking key carries almost no identity signal
# (the well-documented "common Chinese name" problem in author
# disambiguation — e.g. Torvik & Smalheiser 2009; Tang et al.'s
# AMiner work). A block like "lei wang" has measured 112 distinct
# authors in 308 pubs on the reference's labeled corpus.
CJK_SURNAMES: tuple[str, ...] = (
    "wang", "li", "zhang", "liu", "chen", "yang", "huang", "zhao", "wu",
    "zhou", "xu", "sun", "ma", "zhu", "hu", "guo", "he", "gao", "lin",
    "luo", "zheng", "liang", "xie", "tang", "song", "deng", "han", "cao",
    "feng", "zeng", "peng", "xiao", "cai", "pan", "yu", "dong", "yuan",
    "su", "ye", "lu", "wei", "jiang", "tian", "du", "ding", "ren", "fan",
    "fang", "shen", "jin", "qian", "yao", "tan", "kim", "lee", "park",
    "cho", "kang", "yoon", "lim", "shi", "dai", "wan", "meng", "qin",
    "yan", "hou", "bai", "long", "wen", "xia", "gu", "kong", "shao",
    "mao", "qiu", "hao", "ning", "gong", "cheng",
)

# High-frequency anglophone surnames (US census top list). Blocks with
# these surnames plus a full first name sit between the CJK-ambiguous
# tier and the rare tier: the key is moderately ambiguous but the
# focal author's middle initials usually disambiguate.
COMMON_SURNAMES: tuple[str, ...] = (
    "smith", "johnson", "williams", "brown", "jones", "garcia",
    "miller", "davis", "rodriguez", "martinez", "wilson", "anderson",
    "taylor", "thomas", "moore", "jackson", "martin", "white", "harris",
    "clark", "lewis", "robinson", "walker", "young", "allen", "king",
    "wright", "scott", "hill", "green", "adams", "baker", "nelson",
    "hall", "lopez", "gonzalez", "hernandez", "perez", "sanchez",
    "campbell", "mitchell", "roberts", "carter", "phillips", "evans",
    "turner", "parker", "collins", "edwards", "stewart", "morris",
    "murphy", "cook", "rogers", "gray", "james", "watson", "brooks",
    "kelly", "sanders", "price", "bennett", "wood", "barnes", "ross",
    "henderson", "coleman", "jenkins", "perry", "powell", "russell",
)


@dataclass(frozen=True)
class PipelineConfig:
    """Knobs for the blocking -> pairs -> score -> cluster pipeline."""

    # --- fusion & threshold (reference parity defaults) ---
    w_coauthor: float = 5.0          # GCN.py:124
    w_title: float = 1.0             # GCN.py:124
    w_venue: float = 4.0             # GCN.py:124
    weight_norm: float = 10.0        # GCN.py:124,130 divide-by-10
    # org-affiliation channel (engine extension; reference parses org
    # at name_disambiguation.py:828 but never uses it). 0 disables.
    w_org: float = 4.0
    match_threshold: float = 0.20    # calibrated on labeled fixtures (tests);
                                     # reference tau=0.9 applies to sigmoid(dot)
                                     # of learned embeds, not raw fusion scores
    min_title_overlap: int = 2       # name_disambiguation.py:971-973
    # shared-token minimum for a title_cos edge to exist at all;
    # min_title_overlap above gates only the parity weight w_title.
    # 1 (default) keeps single-token IDF cosines: measured +1.7
    # macro-F1 / +6.7 precision on the reference's labeled AMiner
    # corpus (fixed-k GHAC), because without them non-matching pairs
    # tie at sim 0 and average linkage merges arbitrarily.
    min_title_cos_overlap: int = 1
    # title-only pairs match when IDF-cosine >= this. Must stay high:
    # one false pair lets transitive closure merge two whole entities.
    # 0.8 requires most of both titles' idf mass to agree — generic
    # (high-df/low-idf) token collisions top out well below it.
    strong_title_cos: float = 0.80
    # corroboration gates, both OFF by default. Measured on the
    # reference's 110 labeled AMiner blocks: single-coauthor-only
    # pairs are 54% true and venue-only pairs 81% true — yet excluding
    # them costs far more recall than it buys precision (macro
    # P 0.89->0.90 for R 0.74->0.61; both gates: P 0.96, R 0.52)
    # because transitive closure recovers most false merges through
    # other paths anyway. Enable for precision-critical dedup where a
    # false merge is costlier than a split entity.
    exclude_single_coauthor_only: bool = False
    exclude_venue_only: bool = False
    use_stemming: bool = True        # name_disambiguation.py:847-848
    # Jaro-Winkler/Jaccard enrichment pass (scoring.enrich_scores):
    # re-scores pairs with string-sim features and thresholds on
    # score_enriched. Corpus-density-dependent like refine (below):
    # on the SPARSE labeled AMiner corpus it is worth +1.2 macro F1
    # (0.769 -> 0.781, recall +1.7, precision flat — measured,
    # REFERENCE_EVAL runs); on dense-evidence corpora the flat
    # string-sim bonus pushes weak pairs over tau and block precision
    # collapses (fixtures: 1.0 -> 0.18). Off by default everywhere;
    # jobs/disambiguate.py exposes it as the opt-in --enrich flag.
    enrich: bool = False

    # --- scale / skew controls ---
    # tokens occurring in more than this many pubs *within one block*
    # are dropped from the title inverted index (hot-token guard: a
    # token shared by k pubs emits C(k,2) pairs).
    max_token_df_per_block: int = 200
    # same guard for venues ("Unknown" mega-venues) and coauthors.
    max_venue_df_per_block: int = 500
    max_coauthor_df_per_block: int = 500
    max_org_df_per_block: int = 500
    # candidate pairs per block hard cap (0 = unlimited); truncation is
    # counted in lineage, never silent.
    max_pairs_per_block: int = 0
    # salt buckets for skewed block self-joins (applies to the exploded
    # key join; AQE skew-join also on). Join keys whose per-block df
    # exceeds salt_df_threshold take the salted replicated join split
    # into salt_buckets sub-keys; 0 disables explicit salting.
    salt_buckets: int = 8
    salt_df_threshold: int = 64

    # --- name-constraint channel (operators.name_constraints) ---
    # Extract the focal author's given-name signature per pub (e.g.
    # "John R. Smith" in block "john smith" -> ['john','r']), resolve
    # ambiguous signatures (initial-only / absent) to the most
    # evidence-supported maximal signature in the block, and CUT match
    # edges whose resolved signatures are incompatible (contradictory
    # middle initials / first names are hard negative evidence: "John
    # A. Smith" is never "John W. Smith"). Measured on the reference's
    # labeled AMiner corpus: john smith block P 0.05 -> 0.81, macro F1
    # +0.6 with no other block regressing.
    name_constraints: bool = True
    sig_resolve_rounds: int = 3

    # --- ambiguity-tier adaptive matching ---
    # Per-block tier from the blocking key (functions.names.name_tier):
    #   'amb'    initial-only first name, or common CJK surname with a
    #            single short given name (near-zero key signal),
    #   'common' high-frequency anglophone surname,
    #   'rare'   everything else (the key alone is nearly unique).
    # In 'amb' blocks whose strong-evidence (coauthor/org/strong-title)
    # match graph is fragmented (largest component < amb_gate_bigfrac
    # of the block and block size >= amb_gate_min_n), WEAK match edges
    # (venue-only fused evidence) may corroborate but not bridge:
    # they are dropped before transitive closure. Measured: venue-only
    # pairs in such blocks are 5-20% true vs 95-100% in dominated
    # blocks; the gate trades a small recall cost in a few fragmented-
    # but-true blocks for large precision wins (lei wang P 0.13->0.99).
    weak_bridge_gate: bool = True
    amb_gate_bigfrac: float = 0.30
    amb_gate_min_n: int = 50
    # In 'rare' blocks the prior is inverted: the key is nearly unique,
    # so modest title similarity is reliable evidence. Title-only pairs
    # with IDF-cosine >= rare_rescue_cos match in rare blocks (the
    # global strong_title_cos bar stays for other tiers). Only applies
    # to evidence-SPARSE blocks (see refine_richness_max). OFF (1.0)
    # by default since round 5: the semantic cluster merge supersedes
    # it — measured on the 114 labeled blocks, rescue-off is +0.49
    # macro F1 with ZERO blocks regressing (michael wagner +0.28,
    # alok gupta +0.26), and rescue hurts even with semantic_merge
    # off (0.8181 vs 0.8154). Set < 1.0 to re-enable.
    rare_rescue_cos: float = 1.0

    # --- cluster-level agglomeration (clustering.refine_clusters) ---
    # rounds of cluster-pair merging on aggregated (incl. sub-threshold)
    # pair evidence; 0 disables. affinity = sum(scores)/min(|A|,|B|),
    # thresholds per ambiguity tier (refine_tau_*/refine_min_edges_*).
    # ON by default since round 3, guarded by TWO auto-calibration
    # gates measured on both corpora:
    #   1. evidence-richness gate: refine (and the rare rescue) only
    #      run in blocks whose mean above-threshold match score is
    #      below refine_richness_max. Dense-evidence corpora (the
    #      synthetic fixtures: mean matched score 0.63-0.70) have
    #      complete evidence, so sub-threshold pairs there are true
    #      negatives and refine would over-merge (P 1.0 -> 0.48
    #      measured); sparse corpora (AMiner: 0.44-0.58) have missing
    #      evidence, where refine is worth ~+2 macro F1.
    #   2. refine respects the name-constraint cuts and the weak-
    #      bridge gate: cross-cluster evidence from cut or gated pairs
    #      never drives a merge.
    cluster_refine_rounds: int = 4
    refine_richness_max: float = 0.60
    refine_tau_rare: float = 0.02
    refine_tau_common: float = 0.05
    refine_tau_amb: float = 0.10
    refine_min_edges_rare: int = 1
    refine_min_edges_common: int = 2
    refine_min_edges_amb: int = 2
    # legacy single-threshold knobs (used when tier columns are absent,
    # e.g. refine_clusters called standalone without block traits)
    cluster_merge_tau: float = 0.10
    # a cluster-pair merge additionally needs >= this many distinct
    # cross pair-edges (corroboration; 1 disables the gate).
    cluster_merge_min_edges: int = 2

    # --- corpus-internal semantic channel (operators.semantic) ---
    # Word2Vec trained on the corpus's OWN title+venue token sequences
    # (S7/A3 without the reference's external pre-trained embedding);
    # per-pub doc vector = idf-weighted mean of title-token vectors.
    # The GHAC parity path adds semantic_alpha * cos(vec_a, vec_b)
    # (cosines below semantic_cos_floor dropped) to the in-block sim
    # matrix — semantic evidence reaches pairs with ZERO structural
    # evidence, which is exactly the measured recall ceiling (94-98%
    # of recall-tail misses share no token/coauthor/venue/org).
    # Measured (REFERENCE_EVAL_GHAC.md): archived-100 macro F1
    # 0.8528 -> 0.8705 at seed 421 (0.863-0.870 across seeds).
    semantic_alpha: float = 0.03
    semantic_cos_floor: float = 0.50
    # GHAC per-block variant menu (round 4): the linkage runs under
    # each weak-evidence downweight in ghac_weak_gammas x {semantic
    # on/off} and keeps the partition capturing the largest
    # coauthor-backed similarity mass within clusters; a variant must
    # beat the default's capture by > ghac_select_margin (hysteresis).
    # Measured: archived-100 macro F1 0.8683 -> 0.8766, zero blocks
    # regressing > 0.02 (REFERENCE_EVAL_GHAC.md round 4).
    ghac_weak_gammas: tuple = (1.0, 0.7, 0.45, 0.25)
    ghac_select_margin: float = 0.005
    # cc-path semantic cluster merge (round 4): after CC, clusters in
    # SPARSE-evidence non-amb blocks merge when their centroid
    # doc-vector cosine clears the tier threshold and no focal
    # signatures conflict. theta > 1 disables a tier. The fit +
    # merge run ONLY when some block qualifies (evidence-rich corpora
    # — the synthetic fixtures — skip the whole stage, w2v fit
    # included). Measured: cc macro F1 0.8154 -> 0.8240 on the
    # reference's 114 labeled blocks (round 4); round 5 enables the
    # amb tier at a high bar (0.90) — safe only since the greedy
    # sig-checked union-find closure bounds transitive damage —
    # measured +0.19 macro F1, zero blocks regressing (plateau .88-.90;
    # 0.85 costs hao wang/kai zhang precision, 0.80 costs 6 blocks).
    semantic_merge: bool = True
    semantic_merge_theta_rare: float = 0.60
    semantic_merge_theta_common: float = 0.80
    semantic_merge_theta_amb: float = 0.90
    semantic_merge_max_clusters: int = 2000
    # Round-5 merge-rule extensions beyond the flat theta (each is an
    # OR-branch of the edge-acceptance predicate; all accepted edges
    # still pass the greedy sig-checked union-find):
    #  * mutual-top1 + margin: merge clusters that are each other's
    #    BEST centroid-cosine partner in the block when the cosine
    #    clears a tier floor and leads both endpoints' second-best by
    #    a margin (relative evidence — absolute cosine scales differ
    #    per block). Pairs involving a cluster smaller than
    #    mutual_min_size need the larger singleton margin (singleton
    #    centroids are one noisy document).
    #  * maxdoc: amb-tier pairs in [maxdoc_floor, theta) also merge
    #    when some MEMBER document pair clears maxdoc_theta (a
    #    same-paper-series signature two blurred centroids miss).
    #  * rounds: centroids are recomputed after a merge pass and the
    #    rules reapplied (fixpoint capped at semantic_merge_rounds) —
    #    merged clusters sharpen their centroids.
    # Measured on the reference's 114 labeled blocks (offline replica
    # sweep, REFERENCE_EVAL.md round-5 addendum): macro F1
    # 0.8322 -> 0.8398, ZERO blocks regressing > 0.02. Floors/margins
    # below the measured values bleed precision (mutual margin .12
    # regresses ji zhang -0.056; pair-level semantic edges measured
    # dead: post-pipeline cross-cluster zero-evidence pairs are only
    # ~24% same-author even at doc-cos >= 0.6).
    semantic_merge_rounds: int = 2
    semantic_merge_mutual_margin: float = 0.15
    semantic_merge_mutual_margin_singleton: float = 0.30
    semantic_merge_mutual_min_size: int = 2
    semantic_merge_mutual_floor_rare: float = 0.55
    semantic_merge_mutual_floor_common: float = 0.65
    semantic_merge_mutual_floor_amb: float = 0.55
    semantic_merge_maxdoc_theta_amb: float = 0.92
    # maxdoc in COMMON-tier blocks (window [maxdoc_floor, theta_common)
    # = [0.60, 0.80)): same member-pair rescue as the amb tier.
    # Measured round 5 on the 114 labeled blocks: 0.95 AND 0.92 are
    # strict no-ops (macro F1 stays 0.8398 to 4 decimals — no
    # common-tier centroid pair in the window carries a >=0.92 member
    # pair), so the rule stays disabled (2.0) for this tier. Also
    # measured in the same batch: semantic_merge_rounds=3 is a no-op
    # (the 2-round fixpoint already converges) and mutual singleton
    # margin 0.25 regresses (0.8397, precision bleed) — 0.30 stands.
    semantic_merge_maxdoc_theta_common: float = 2.0
    semantic_merge_maxdoc_floor: float = 0.60
    w2v_dim: int = 100
    w2v_window: int = 8           # must span the appended venue tokens
    w2v_iter: int = 10
    w2v_min_count: int = 2        # vocab bound = the fit's memory bound
    w2v_seed: int = 421
    w2v_num_partitions: int = 1   # 1 = deterministic fit; raise at scale
    # fraction of sentences the FIT sees (deterministic hash sample;
    # 1.0 = all). At 10^12-doc scale the fit needs co-occurrence
    # coverage, not every document — document_vectors still covers
    # every doc regardless of this knob.
    w2v_sample_fraction: float = 1.0
    # scale-safety cap for the DEFAULT config (round 5): when
    # w2v_sample_fraction is 1.0, the fit auto-derives an effective
    # fraction of min(1, cap / corpus_sentences), so the serialized
    # w2v_num_partitions=1 fit is bounded-constant work no matter the
    # corpus size — a full-corpus 1-partition fit is a 100-TB
    # scale-killer in the default path. 0 disables the cap. Small
    # corpora (the reference's 9.5k pubs, every fixture) sit far
    # under the cap, so the default fit is byte-identical to round 4.
    w2v_max_fit_sentences: int = 1_000_000

    # --- incremental cluster assignment (operators/assign.py) ---
    # fused-score floor for attributing a NEW pub to an existing
    # cluster; below it the pub stays unassigned (NULL) until the next
    # full resolution. Same default as match_threshold: one shared
    # coauthor (0.5) or venue (0.4) assigns, title alone must be a
    # near-duplicate.
    assign_threshold: float = 0.20
    # snapshot authors/venues present in more than this many clusters
    # of one block are dropped from the candidate index — they carry
    # no identity signal and their fan-out is what would break the
    # stream-static join at 10^12 scale (the hot-token-cap idea
    # applied to the assignment keys).
    assign_hot_key_clusters: int = 64

    # --- misc ---
    stopwords: tuple[str, ...] = field(default=RAW_STOPWORDS)
    venue_null_values: tuple[str, ...] = ("", "null", "none", "unknown")


DEFAULT_CONFIG = PipelineConfig()
