SELECT a.doc_id, a.n_sentences, b.n_ws, b.n_est, b.n_bpe
FROM (
    SELECT doc_id,
           CAST(LENGTH(LIST_FILTER(
             STRING_SPLIT(
               REGEXP_REPLACE(
                 SUBSTR(text,1,80) || '. ' || SUBSTR(text,81,80) || '! ' || SUBSTR(text,161,80) || '? tail',
                 '([。！？；.?!;])', '\1' || CHR(1), 'g'),
               CHR(1)),
             x -> TRIM(x) <> '')) AS BIGINT) AS n_sentences
    FROM documents
) a
JOIN (
    SELECT doc_id,
           CAST(LENGTH(REGEXP_SPLIT_TO_ARRAY(TRIM(text), '\s+')) AS BIGINT) AS n_ws,
           CAST(CEIL(LENGTH(text) / 4.0) AS BIGINT) AS n_est,
           CAST(LENGTH(REGEXP_EXTRACT_ALL(text, '[A-Za-z]+|[0-9]+|[^\sA-Za-z0-9]')) AS BIGINT) AS n_bpe
    FROM documents
) b USING (doc_id)
