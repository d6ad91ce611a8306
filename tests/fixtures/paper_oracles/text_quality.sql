WITH base AS (
    SELECT doc_id, text,
           string_split_regex(trim(lower(text)), '\s+') AS toks,
           length(text) AS n_chars,
           len(string_split_regex(trim(text), '\s+')) AS n_tokens,
           len(regexp_extract_all(text, '[^\w\s]')) AS n_punct
    FROM documents),
feat AS (
    SELECT doc_id, text, n_chars, n_tokens, n_punct,
           CAST(len(list_filter(toks, t -> list_contains(['the', 'a', 'an', 'and', 'or', 'but', 'if', 'then', 'of', 'in', 'on', 'at', 'to', 'for', 'with', 'by', 'from', 'as', 'is', 'are', 'was', 'were', 'be', 'been', 'this', 'that', 'these', 'those', 'it', 'its', 'he', 'she', 'they', 'we', 'you', 'i', 'not', 'no'], t))) AS DOUBLE)
             / len(toks) AS stopword_ratio,
           CAST(n_chars - (n_tokens - 1) AS DOUBLE) / n_tokens AS mean_word_len,
           CAST(n_punct AS DOUBLE) / n_chars AS punct_ratio
    FROM base)
SELECT doc_id,
       CASE WHEN len(regexp_extract_all(text, '[一-鿿]')) * 4 > n_chars THEN 'zh'
            WHEN stopword_ratio >= 0.08 THEN 'en'
            ELSE 'unknown' END AS lang_guess,
       CAST(n_tokens AS BIGINT) AS n_tokens, mean_word_len, punct_ratio,
       stopword_ratio,
       (CASE WHEN n_tokens >= 20 THEN CAST(0.25 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END
        + CASE WHEN mean_word_len >= 3 AND mean_word_len <= 12 THEN CAST(0.25 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END
        + CASE WHEN punct_ratio <= 0.2 THEN CAST(0.25 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END
        + CASE WHEN stopword_ratio >= 0.05 THEN CAST(0.25 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END) AS quality_score
FROM feat
