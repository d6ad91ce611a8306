WITH s AS (
    SELECT CAST(doc_id AS VARCHAR) AS survey_id,
           '## Sec' || chr(10) || 'First claim about ' || SUBSTR(text, 1, 40)
           || ' [1]. Filler sentence without citation. Second point '
           || SUBSTR(text, 41, 30) || ' [1, 2].' || chr(10)
           || '## References' || chr(10) || '[1] X' || chr(10) || '[2] Y' || chr(10)
             AS content_md
    FROM documents),
body AS (SELECT survey_id,
                STRING_SPLIT(content_md, '## References')[1] AS body
         FROM s),
c AS (SELECT survey_id,
             UNNEST(regexp_extract_all(body, '[^.!?]*\[[^\]]+\][^.!?]*[.!?]'))
               AS claim,
             GENERATE_SUBSCRIPTS(
               regexp_extract_all(body, '[^.!?]*\[[^\]]+\][^.!?]*[.!?]'), 1) - 1
               AS claim_pos
      FROM body),
parsed AS (
    SELECT survey_id, claim_pos, claim,
           list_sort(list_distinct(FLATTEN(LIST_TRANSFORM(
             regexp_extract_all(claim, '\[([0-9, ]+)\]', 1),
             g -> LIST_TRANSFORM(
                   LIST_FILTER(LIST_TRANSFORM(STRING_SPLIT(g, ','),
                                              x -> TRIM(x)),
                               x -> x <> ''),
                   x -> CAST(x AS INT)))))) AS cited
    FROM c)
SELECT survey_id, CAST(claim_pos AS INT) AS claim_pos, claim,
       ARRAY_TO_STRING(cited, ',') AS cited
FROM parsed WHERE LEN(cited) > 0
