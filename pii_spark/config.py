"""Pipeline configuration + label space.

Mirrors the reference's pii_synth/config_and_labels.py:
  * entity types + BILOU label list        (config_and_labels.py:26-45)
  * corpus mix ratios                      (config_and_labels.py:6,12,14)
  * noise probabilities                    (config_and_labels.py:21-23)
  * confidence threshold 0.3               (evaluation/model_evaluation.py:259)
plus the quality-filter thresholds the north rule adds (the reference
has no keep/drop decision; these are this engine's own semantics).
"""

from __future__ import annotations

# ---- dataset size (config_and_labels.py:6) ----
N_SAMPLES_DEFAULT = 120_000

# ---- corpus mix (config_and_labels.py:12-14) ----
O_ONLY_RATIO = 0.50
HARDNEG_RATIO = 0.15

# ---- tokenizer cap (config_and_labels.py:18) ----
MAX_TOKENS = 512

# ---- noise probabilities, outside spans (config_and_labels.py:21-23) ----
NOISE_CHAR_SUB_PROB = 0.08
NOISE_SWAP_PROB = 0.03
NOISE_CASE_PROB = 0.05
# inside spans (generation.py:676,826-827)
NOISE_PII_DOC_PROB = 0.10
NOISE_PII_SPAN_PROB = 0.15
# obfuscation rate for EMAIL / PHONE fields (generation.py:808,813)
OBFUSCATE_PROB = 0.20

# ---- entity label space (config_and_labels.py:26-45) ----
ENTITY_TYPES = [
    "EMAIL",
    "PHONE",
    "SSN",
    "CREDIT_CARD",
    "PERSON",
    "ORG",
    "ADDRESS",
    "DATE",
    "AGE",
]

LABEL_LIST = ["O"]
for _ent in ENTITY_TYPES:
    LABEL_LIST += [f"B-{_ent}", f"I-{_ent}", f"L-{_ent}", f"U-{_ent}"]

LABEL2ID = {lab: i for i, lab in enumerate(LABEL_LIST)}
ID2LABEL = {i: lab for lab, i in LABEL2ID.items()}
NUM_LABELS = len(LABEL_LIST)  # 37

# ---- model-stage serving semantics (model_evaluation.py:253-269) ----
CONFIDENCE_THRESHOLD = 0.3

# ---- scrub placeholders (M15; README.md:6 frames masking, no code in ref) ----
# IP is scrubbed per the north rule's regex stage, but is NOT one of the 9
# entity types — IP spans are excluded from the label-F1 metric.
SCRUB_TYPES = ENTITY_TYPES + ["IP"]


def placeholder(label: str) -> str:
    return f"[{label}]"


# ---- quality-filter thresholds (north-rule additions; no ref analogue) ----
# Tuned for the short web-text docs this corpus contains; every rule is a
# pure function of the text so keep/drop is deterministic and
# partitioning-independent.
QUALITY = {
    "min_words": 3,           # Gopher-style min word count
    "max_words": 100_000,     # Gopher-style max word count
    "min_mean_word_len": 1.5, # Gopher mean-word-length band
    "max_mean_word_len": 14.0,
    "max_symbol_ratio": 0.35, # symbols / chars (Gopher '#'/'...' generalized)
    "max_rep_ratio": 0.60,    # 1 - distinct_words/words (repetition)
    "max_digit_ratio": 0.45,  # digit chars / non-space chars
    "min_alpha_ratio": 0.30,  # alpha chars / non-space chars (C4-ish)
    # char-LM per-character perplexity ceiling (en trigram model):
    # measured p95 for noised positives ≈ 43, max ≈ 60; junk/hard-negative
    # strings land 70-95 (scripts/f1_harness.py + quality sweep)
    "max_ppl": 65.0,
    "langs_kept": ("en",),
    # weighted lexicon hits per word (quality/toxicity.py); drop when
    # STRICTLY above: one weight-2 word in a 24-word doc (2/24 ≈ 0.083)
    # drops, in a 25-word doc (2/25 = 0.08 exactly) keeps
    "max_tox_score": 0.08,
}

SEED_DEFAULT = 42
