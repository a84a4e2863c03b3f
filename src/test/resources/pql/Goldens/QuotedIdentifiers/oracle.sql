SELECT EventId, EventType AS "Event Kind"
FROM StormEvents
WHERE EventId < 4
ORDER BY EventId ASC NULLS FIRST
