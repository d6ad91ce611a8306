WITH toks AS (
    SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS ws
    FROM documents),
g AS (SELECT doc_id,
        CASE WHEN len(ws) >= 3
             THEN [ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                   for i in range(1, len(ws) - 1)]
             ELSE [array_to_string(ws, ' ')] END AS grams
      FROM toks)
SELECT doc_id, list_min(list_transform(grams, s -> md5(s))) AS fingerprint
FROM g
